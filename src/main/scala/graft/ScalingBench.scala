package graft

/** N-vs-4N scaling evidence (north rule): run the identical ER pipeline
  * job at local[N] and local[4N] on the same generated input and report
  * throughput at both; scaling efficiency = (thr4N/thrN)/4. This sandbox
  * has no real cluster; two parallelism levels in local mode are the
  * sanctioned stand-in (see BASELINE.md).
  *
  * One measurement per JVM (scripts/scaling_pair.sh orchestrates both and
  * computes the efficiency) — sharing a JVM between the two runs biases
  * the second with the first's heap/GC state.
  *
  * Usage: runMain graft.ScalingBench <cores> [nEntities]
  */
object ScalingBench {

  def main(args: Array[String]): Unit = {
    val cores = if (args.nonEmpty) args(0).toInt else 8
    val nEntities = if (args.length > 1) args(1).toLong else 60000L
    val spark = graft.core.Sessions.jobShape(cores.toString)

    // warmup: exercises generation + all pipeline codegen at small scale
    val w = graft.sources.WebPageGen.pages(spark, 200L).toDF
    graft.pipeline.ErPipeline.run(spark, w, graft.pipeline.ErPipeline.Config())
      .clusters.count()

    val pages = graft.sources.WebPageGen.pages(spark, nEntities).toDF.cache()
    val n = pages.count()
    val t0 = System.nanoTime()
    val res = graft.pipeline.ErPipeline.run(spark, pages, graft.pipeline.ErPipeline.Config())
    res.clusters.select("cluster_id").distinct().count()
    val sec = (System.nanoTime() - t0) / 1e9
    println(
      f"""{"metric":"pipeline_throughput","cores":$cores,"pages":$n,""" +
        f""""sec":$sec%.1f,"docs_per_sec":${n / sec}%.1f}""")
    spark.stop()
  }
}
