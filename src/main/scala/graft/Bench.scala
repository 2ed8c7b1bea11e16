package graft

/** Per-round benchmark: all catalog queries on SPARK_GRAFT_SF_DIR plus the
  * end-to-end ER pipeline (generated corpus sized to the SF). One warmup
  * execution of a small query first so JVM/codegen startup isn't billed to
  * the first measured query.
  *
  * Output contract: ONE JSON line, printed directly to stdout as the final
  * program output (run/fork + StdoutOutput in build.sbt keeps it free of
  * sbt log prefixes) AND written to bench.json in the working directory so
  * the driver can parse it even if sbt appends its own trailer lines.
  * Failed queries are recorded under "failed" with their error class and
  * are excluded from the timing totals — a failure must never masquerade
  * as a fast pass.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.Sessions.jobShape(cpus)

    def loadNow(): Double =
      try new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg"))).split(" ")(0).toDouble
      catch { case _: Throwable => -1.0 }

    // Quiet-window discipline (same as the scaling campaign): a bench
    // started under heavy background load undersells the code 1.2-2.3x
    // nearly uniformly (measured round 4: load 3.55 start vs 1.71 —
    // every untouched query read slower). Wait — bounded — for the host
    // to quiet down before measuring; the JSON records how long we
    // waited and the load when measurement actually began.
    val maxStartLoad = sys.env.getOrElse("SPARK_GRAFT_MAX_START_LOAD", "2.5").toDouble
    val maxWaitSec = sys.env.getOrElse("SPARK_GRAFT_QUIET_WAIT_SEC", "600").toInt
    val loadFirstSeen = loadNow()
    var waitedSec = 0
    while (loadNow() > maxStartLoad && waitedSec < maxWaitSec) {
      Thread.sleep(15000)
      waitedSec += 15
    }
    val loadAtStart = loadNow() // background load BEFORE the bench adds its own

    // warmup: touch every table + exercise codegen paths once at tiny
    // scale — through the SAME noop sink the measured queries use, so
    // kernel JIT and sink setup land here, not in the first measured query
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    graft.queries.Catalog.queries.get("q_multi_join")
      .foreach(q => noop(q(spark, sfDir)))
    graft.queries.Catalog.queries.get("er_blocking_pairs")
      .foreach(q => noop(q(spark, "/root/testdata/sf0.001")))
    // and page in every table's BYTES at the bench scale: a first run
    // after a cache flush otherwise bills the cold parquet reads to the
    // alphabetically-first query families (measured: ann_index_recall
    // 32.8s cold vs 7.1s warm, same binary minutes apart — BASELINE.md
    // round 5). A full untimed scan makes measurement cache-warm and
    // comparable across rounds regardless of what ran before.
    locally {
      val listing = java.nio.file.Files.list(java.nio.file.Paths.get(sfDir))
      try listing.filter(_.toString.endsWith(".parquet")).forEach { p =>
        try noop(spark.read.parquet(p.toString))
        catch { case _: Throwable => () } // warmup must never fail the bench
      }
      finally listing.close()
    }

    // noop sink, not count(): count() lets Catalyst PRUNE every unused
    // column, so a projection query's expensive expressions would never
    // run — the noop write forces full evaluation of all output columns
    // (what Verify's parquet write and any real consumer pays).
    final case class R(name: String, sec: Double, error: Option[String])
    val results = graft.queries.Catalog.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val t0 = System.nanoTime()
      val err =
        try { noop(fn(spark, sfDir)); None }
        catch { case e: Throwable => Some(e.getClass.getSimpleName) }
      R(name, (System.nanoTime() - t0) / 1e9, err)
    }
    val ok = results.filter(_.error.isEmpty)
    val failed = results.filter(_.error.isDefined)

    // end-to-end ER pipeline throughput on a generated corpus sized to SF
    val nEntities =
      if (sfDir.contains("sf0.001")) 500L
      else if (sfDir.contains("sf0.01")) 2000L
      else 20000L
    val pages = graft.sources.WebPageGen.pages(spark, nEntities).toDF.cache()
    val nPages = pages.count() // materialize generation outside the timing
    val t0 = System.nanoTime()
    val res = graft.pipeline.ErPipeline.run(spark, pages, graft.pipeline.ErPipeline.Config())
    val nClusters = res.clusters.select("cluster_id").distinct().count()
    val pipelineSec = (System.nanoTime() - t0) / 1e9
    val docsPerSec = nPages / pipelineSec

    spark.stop()

    // N-vs-4N scaling evidence is NOT measured here: a same-JVM sequential
    // pair (warm heap, ordering bias, fixed-cost-dominated small corpus) is
    // methodologically unsound. scripts/scaling_pair.sh measures it
    // properly (fresh JVM per level, any N vs 4N, hardware-ceiling
    // bracketing); results live in BASELINE.md "Scaling efficiency".
    // measurement-window context: host load (at start = background
    // contention, at end = including this bench) and core estimate, so
    // round-over-round comparisons carry their own contention caveat
    val loadAvg = loadNow()
    val hostCores = Runtime.getRuntime.availableProcessors()

    val qs = ok.map(r => "\"" + r.name + "\":" + f"${r.sec}%.3f")
      .mkString("{", ",", "}")
    val fs = failed.map(r => "\"" + r.name + "\":\"" + r.error.get + "\"")
      .mkString("{", ",", "}")
    val total = ok.map(_.sec).sum + pipelineSec
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
        s""""failed":$fs,"n_failed":${failed.size},""" +
        f""""er_pipeline_sec":$pipelineSec%.3f,"er_pipeline_pages":$nPages,""" +
        f""""er_pipeline_docs_per_sec":$docsPerSec%.1f,"er_clusters":$nClusters,""" +
        f""""load_avg":$loadAvg%.2f,"load_avg_at_start":$loadAtStart%.2f,""" +
        f""""load_avg_first_seen":$loadFirstSeen%.2f,"quiet_wait_sec":$waitedSec,""" +
        s""""host_cores":$hostCores,"bench_cores":$cpus,""" +
        s""""sf":"$sfDir"}"""
    java.nio.file.Files.write(java.nio.file.Paths.get("bench.json"),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // last line of program output, after Spark's shutdown logging
    println(json)
  }
}
