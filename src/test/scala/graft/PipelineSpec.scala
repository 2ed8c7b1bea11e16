package graft

import org.apache.spark.sql.functions._

import graft.pipeline.ErPipeline
import graft.sources.WebPageGen

/** End-to-end golden test (SURVEY.md par.5 item 3): seeded synthetic
  * web-page corpus -> full pipeline -> byte-identical extraction, blocking
  * recall, pairwise F1 >= 0.99 on reference-rule labeled pairs, and exact
  * cluster assignments vs ground truth.
  */
class PipelineSpec extends SparkSpec {

  private val N = 150L
  private lazy val pages = WebPageGen.pages(spark, N).toDF.cache()
  private lazy val cfg = ErPipeline.Config()
  private lazy val result = {
    val norm = ErPipeline.normalize(ErPipeline.extract(pages))
    val sigs = ErPipeline.signatures(norm, cfg).cache()
    val cands = ErPipeline.candidates(sigs, cfg)
    val scored = ErPipeline.scorePairs(cands, sigs, cfg).cache()
    val clustered = ErPipeline.clusters(sigs, scored)
    (sigs, cands, scored, clustered)
  }

  test("generator is deterministic") {
    val a = WebPageGen.labeledPage(42L, 7L, 1)
    val b = WebPageGen.labeledPage(42L, 7L, 1)
    assert(a === b.copy(html = a.html) && a.html.toSeq === b.html.toSeq)
    assert(pages.count() === N * WebPageGen.Variants.size)
  }

  test("byte-identical extracted text per url (north-rule invariant)") {
    val extracted = ErPipeline.extract(pages)
    val mismatches = extracted.filter(col("text") =!= col("extracted_text")).count()
    assert(mismatches === 0L)
  }

  test("blocking recall: every labeled duplicate pair shares a block") {
    val labeled = WebPageGen.labeledPairs(spark, N)
    val dupPairs = labeled.filter(col("label") === 1)
    val cands = result._2
    val missed = dupPairs.join(cands, Seq("url1", "url2"), "left_anti").count()
    assert(missed === 0L, s"$missed duplicate pairs not surfaced by blocking")
  }

  test("pairwise F1 >= 0.99 on labeled pairs at matched blocking keys") {
    val labeled = WebPageGen.labeledPairs(spark, N)
    val m = ErPipeline.labeledPairMetrics(result._3, labeled).head()
    val f1 = m.getAs[Double]("f1")
    info(s"tp=${m.getAs[Long]("tp")} fp=${m.getAs[Long]("fp")} " +
      s"fn=${m.getAs[Long]("fn")} f1=$f1")
    assert(f1 >= 0.99, s"F1 $f1 below target; metrics row: $m")
  }

  test("clusters exactly match ground-truth entities") {
    val truth = WebPageGen.groundTruth(spark, N)
    val got = result._4 // url, cluster_id
    val joined = got.join(truth.select("url", "truth_cluster"), "url")
    // a predicted cluster must map to exactly one truth cluster and back
    val p2t = joined.groupBy("cluster_id")
      .agg(countDistinct("truth_cluster").as("n")).filter(col("n") > 1).count()
    val t2p = joined.groupBy("truth_cluster")
      .agg(countDistinct("cluster_id").as("n")).filter(col("n") > 1).count()
    assert(p2t === 0L, s"$p2t predicted clusters span multiple truth entities (merges)")
    assert(t2p === 0L, s"$t2p truth entities split across predicted clusters")
    assert(got.count() === pages.count())
  }

  test("threshold calibration finds a high-F1 plateau containing the default") {
    val labeled = WebPageGen.labeledPairs(spark, N)
    val cal = ErPipeline.calibrate(result._3, labeled, (5 to 90 by 5).map(_ / 100.0))
    val best = cal.head()
    info(s"best threshold=${best.getAs[Double]("threshold")} f1=${best.getAs[Double]("f1")}")
    assert(best.getAs[Double]("f1") >= 0.99)
    // the shipped default threshold must sit on the high-F1 plateau
    val f1AtDefault = cal.filter(col("threshold") === cfg.matchThreshold)
      .head().getAs[Double]("f1")
    assert(f1AtDefault >= 0.99, s"default threshold f1=$f1AtDefault")
  }

  test("n_closest-style candidate cap bounds fan-out without hurting F1") {
    val capCfg = cfg.copy(maxCandidatesPerRecord = 50)
    val norm = ErPipeline.normalize(ErPipeline.extract(pages))
    val sigs = ErPipeline.signatures(norm, capCfg).cache()
    val cands = ErPipeline.candidates(sigs, capCfg).cache()
    // hard bound holds per record
    val maxFan = cands.groupBy("url1").count().agg(max("count")).head().getLong(0)
    assert(maxFan <= 50, s"cap violated: a record emitted $maxFan pairs")
    // schema identical to the uncapped path (internal rank cols dropped)
    assert(cands.columns.toSeq === Seq("url1", "url2", "block_key"))
    // recall on labeled duplicates survives the cap (true pairs share the
    // most keys, so they rank first)
    val scored = ErPipeline.scorePairs(cands, sigs, capCfg)
    val labeled = WebPageGen.labeledPairs(spark, N)
    val f1 = ErPipeline.labeledPairMetrics(scored, labeled).head().getAs[Double]("f1")
    info(s"capped f1=$f1")
    assert(f1 >= 0.99, s"F1 $f1 under candidate cap")
  }

  test("matchProbe scores an ad-hoc pair with production semantics") {
    import ErPipeline.ProbeRecord
    val same = ErPipeline.matchProbe(spark,
      ProbeRecord("Ada", "Lovelace", "ada@calc.org", "555-0100", "NY", "10001"),
      ProbeRecord("Ada", "Lovelace", "ada@calc.org", "(555) 0100", "ny", "10001")).head()
    assert(same.getAs[Boolean]("matches"), s"identical contact should match: $same")
    val diff = ErPipeline.matchProbe(spark,
      ProbeRecord("Ada", "Lovelace", "ada@calc.org", "555-0100", "NY", "10001"),
      ProbeRecord("Zed", "Quux", "zq@other.net", "555-9999", "CA", "94016")).head()
    assert(!diff.getAs[Boolean]("matches"), s"unrelated contact should not match: $diff")
    assert(same.getAs[Double]("score") > diff.getAs[Double]("score"))
  }

  test("pooled mode bounds hot blocks: pair volume O(n x window), cold blocks unchanged") {
    import spark.implicits._
    val cfg = ErPipeline.Config() // maxBlock 48, hotWindow 6
    // one synthetic hot key shared by a 40-record source pool and a
    // 600-record search pool, plus a cold key with bounded membership
    val srcSigs = (0 until 40)
      .map(i => (f"src://$i%04d", Seq("hot") ++ (if (i < 5) Seq("cold") else Nil)))
      .toDF("url", "block_keys")
    val seaSigs = (0 until 600)
      .map(i => (f"sea://$i%04d", Seq("hot") ++ (if (i < 10) Seq("cold") else Nil)))
      .toDF("url", "block_keys")
    val pairs = ErPipeline.candidatesPooled(srcSigs, seaSigs, cfg).cache()
    val n = pairs.count()
    // hot key contributes <= 40 * 2*hotWindow; cold key <= 5 * 10;
    // WITHOUT the bound the hot key alone would emit 40 * 600 = 24000
    assert(n <= 40L * 2 * cfg.hotWindow + 5L * 10,
      s"hot block not bounded: $n pairs")
    assert(n > 0)
    // every source record in the hot block still gets neighbors
    assert(pairs.select("url1").distinct().count() === 40L)
    // cold blocks keep exact full-bipartite semantics: restricting to the
    // cold key reproduces the plain join (the pre-bound construction)
    val coldOnly = ErPipeline.candidatesPooled(
      srcSigs.filter(size(col("block_keys")) === 2)
        .withColumn("block_keys", array(lit("cold"))),
      seaSigs.filter(size(col("block_keys")) === 2)
        .withColumn("block_keys", array(lit("cold"))), cfg)
    assert(coldOnly.count() === 5L * 10)
  }

  /** Run `body` with AQE's advisory partition size shrunk: a test-sized
    * block is a few KB to MB, which AQE would legitimately coalesce into
    * one range partition (a real 10^8-row block would not), so the tests
    * below could not observe the multi-task split real scale produces.
    */
  private def withSpreadRanges[T](body: => T): T = {
    val keys = Seq("spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize")
    val prev = keys.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      keys.foreach(k => spark.conf.set(k, "64k"))
      body
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("giant-block rank is distributed (>1 task per key) and matches the window rank") {
    // one planted 100k-member block, ranked under spread ranges
    withSpreadRanges {
      val n = 100000
      val rows = spark.range(n)
        .select(lit("hot:block").as("bk"),
          concat(lit("u://"), lpad(col("id").cast("string"), 7, "0")).as("url"))
      val ranked = ErPipeline.rankWithinBlocks(rows).cache()
      // the ranking work for the single key ran in MULTIPLE range partitions
      val pids = ranked.select("_pid").distinct().count()
      assert(pids > 1, s"whole key ranked in one task (pids=$pids)")
      // ranks are exactly the url sort order, 1..n, no gaps or dups
      val mismatch = ranked
        .withColumn("expect", expr("cast(substring(url, 5) as long) + 1"))
        .filter(col("rn") =!= col("expect")).count()
      assert(mismatch === 0L, "distributed rank diverges from url order")
      assert(ranked.select("rn").distinct().count() === n.toLong)
      ranked.unpersist()
    }
  }

  /** Signature rows (url, block_keys) for a block key -> members map. */
  private def sigsOf(blocks: Map[String, Seq[String]]) = {
    import spark.implicits._
    blocks.toSeq.flatMap { case (k, us) => us.map(_ -> k) }
      .groupBy(_._1).toSeq
      .map { case (u, ks) => (u, ks.map(_._2).sorted) }
      .toDF("url", "block_keys")
  }

  /** Pair dedup as the pipeline defines it: one row per (url1, url2),
    * carrying the smallest block key that emitted it.
    */
  private def dedupMinKey(pairs: Iterable[(String, String, String)]): Set[Seq[Any]] =
    pairs.groupBy(p => (p._1, p._2))
      .map { case ((u1, u2), ps) => Seq[Any](u1, u2, ps.map(_._3).min) }.toSet

  // shuffled names, so url order is not the order members are listed in
  private val refUrls =
    new scala.util.Random(11).shuffle((0 until 400).map(i => f"u://$i%04d"))
  private def take(from: Int, n: Int) = refUrls.slice(from, from + n)

  private def pairsOf(cands: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
    cands.select("url1", "url2", "block_key").collect().map(_.toSeq).toSet

  private def assertSamePairs(got: Set[Seq[Any]], expect: Set[Seq[Any]]): Unit = {
    assert(got === expect,
      s"missing=${(expect -- got).take(3)} extra=${(got -- expect).take(3)}")
    assert(expect.nonEmpty)
  }

  /** Sorted-neighborhood reference for `candidates`: full pairing up to
    * maxBlock, else each member with its next hotWindow members in url
    * order (the single-window semantics).
    */
  private def scopedRef(blocks: Map[String, Seq[String]], cfg: ErPipeline.Config) =
    dedupMinKey(blocks.flatMap { case (k, us) =>
      val s = us.sorted
      val reach = if (s.size <= cfg.maxBlock) s.size else cfg.hotWindow
      for (i <- s.indices; j <- i + 1 until math.min(i + 1 + reach, s.size))
        yield (s(i), s(j), k)
    })

  /** Reference for `candidatesPooled`: full bipartite join while the
    * search side is <= maxBlock, else each source pairs with the hotWindow
    * search members on either side of its url position (search rows sort
    * before an equal source url); a url in both pools drops its self pair.
    */
  private def pooledRef(src: Map[String, Seq[String]], sea: Map[String, Seq[String]],
      cfg: ErPipeline.Config) =
    dedupMinKey(src.toSeq.flatMap { case (k, us) =>
      val s = sea.getOrElse(k, Nil).sorted
      us.flatMap { u =>
        val near =
          if (s.size <= cfg.maxBlock) s
          else {
            val pos = s.count(_ <= u)
            s.slice(math.max(1, pos - cfg.hotWindow + 1) - 1, pos + cfg.hotWindow)
          }
        near.filter(_ != u).map(v => (u, v, k))
      }
    })

  // Ranks cross range-partition boundaries under withSpreadRanges, so the
  // prefix-sum offsets are part of what the references check; a zero
  // window gives hot blocks no neighbors at all.

  test("giant-block pairing emits identical pairs to the single-window hot path") {
    // a block of exactly maxBlock rows and one of maxBlock + 1 sharing two
    // members, three overlapping hot blocks, and blocks too small to pair
    val blocks = Map(
      "b:cold4" -> take(0, 4), "b:hot5" -> take(2, 5), "b:cold2" -> take(7, 2),
      "b:one" -> take(9, 1), "b:hotA" -> take(10, 30), "b:hotB" -> take(25, 45),
      "b:hotC" -> take(60, 9))
    withSpreadRanges {
      for (w <- Seq(3, 0)) {
        val cfg = ErPipeline.Config(maxBlock = 4, hotWindow = w)
        assertSamePairs(pairsOf(ErPipeline.candidates(sigsOf(blocks), cfg)),
          scopedRef(blocks, cfg))
      }
    }
  }

  test("pooled giant-block probe emits identical pairs to the pooled window path") {
    // search sides of exactly maxBlock and maxBlock + 1 rows, a
    // search-heavy and a source-heavy hot key, keys on one side only, and
    // urls in both pools
    val sea = Map(
      "p:cold4" -> take(100, 4), "p:hot5" -> take(104, 5), "p:srcHeavy" -> take(106, 6),
      "p:seaHeavy" -> take(120, 50), "p:seaOnly" -> take(170, 7))
    val src = Map(
      "p:cold4" -> take(200, 3), "p:hot5" -> (take(203, 2) ++ take(105, 1)),
      "p:srcHeavy" -> take(200, 70), "p:seaHeavy" -> (take(270, 3) ++ take(130, 2)),
      "p:srcOnly" -> take(280, 9))
    withSpreadRanges {
      for (w <- Seq(3, 0)) {
        val cfg = ErPipeline.Config(maxBlock = 4, hotWindow = w)
        val got = pairsOf(ErPipeline.candidatesPooled(sigsOf(src), sigsOf(sea), cfg))
        assertSamePairs(got, pooledRef(src, sea, cfg))
        // still bounded: each source probes <= 2*hotWindow search neighbors
        assert(got.count(_(2) == "p:seaHeavy") <= src("p:seaHeavy").size * 2 * w)
      }
    }
  }

  test("pooled banding keys on the MERGED size: a giant SOURCE pool routes giant") {
    // the search side is hot but modest (30 > maxBlock); the SOURCE side
    // is ten times larger, and its rows interleave the search rows in url
    // order, so every source lands somewhere different in the merged stream
    val src = Map("hot" -> take(0, 300))
    val sea = Map("hot" -> take(300, 30))
    val cfg = ErPipeline.Config(maxBlock = 10, hotWindow = 4)
    withSpreadRanges {
      val got = pairsOf(ErPipeline.candidatesPooled(sigsOf(src), sigsOf(sea), cfg))
      assertSamePairs(got, pooledRef(src, sea, cfg))
      assert(got.size <= 300 * 2 * cfg.hotWindow)
    }
  }

  test("incremental staleRows picks exactly new/updated urls (I1)") {
    import spark.implicits._
    val prior = pages.select(col("url"), col("warc_ts")).limit(900)
    val bumped = pages.limit(50)
      .select(col("url"), (col("warc_ts") + expr("INTERVAL 1 DAY")).as("warc_ts"),
        col("html"), col("text"), col("lang"))
    val input = pages.join(bumped.select("url"), Seq("url"), "left_anti")
      .unionByName(bumped.select(pages.columns.map(col): _*))
    val stale = ErPipeline.staleRows(input, prior, "url", "warc_ts")
    val expected = input.join(prior.withColumnRenamed("warc_ts", "prev"), Seq("url"), "left")
      .filter(col("prev").isNull || col("warc_ts") > col("prev")).count()
    assert(stale.count() === expected)
    assert(stale.count() < input.count(), "incremental run must skip unchanged rows")
  }

  test("the signatures stage table holds exactly the columns later stages read") {
    val root = java.nio.file.Files.createTempDirectory("graft-stages").toFile
    try {
      val res = ErPipeline.run(spark, WebPageGen.pages(spark, 20L).toDF,
        cfg.copy(outRoot = root.toString))
      val expected = Seq("url", "warc_ts", "lang", "name_norm", "name_norm_rev",
        "email_norm", "phone_norm", "state_norm", "zip_norm", "embedding", "block_keys")
      assert(spark.read.parquet(s"$root/signatures/data.parquet").columns.toSeq === expected)
      assert(res.signatures.columns.toSeq === expected)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(root)
  }

  test("candidate pairs at 2,000 entities keep their fingerprint") {
    // pinned on the candidate path every run and incremental run takes;
    // any change to pairing, hot-block bounding or the dedup shows here
    val sigs = ErPipeline.signatures(ErPipeline.normalize(ErPipeline.extract(
      WebPageGen.pages(spark, 2000L, 1L).toDF)), cfg).localCheckpoint()
    val cands = ErPipeline.candidates(sigs, cfg).select("url1", "url2", "block_key")
    assert(graft.plans.StageStore.fingerprint(cands) === "93d750561bb3e800-71875")
  }
}
