package graft.pipeline

import graft.core.Sessions
import graft.sources.WebPageGen

/** Runnable end-to-end drive of the ER pipeline on the synthetic corpus:
  * generates N entities' pages, runs all stages with checkpoints under
  * outRoot, prints pairwise metrics + cluster counts. Re-running with the
  * same args resumes from the manifests (prints stage skip behavior).
  *
  * Usage: runMain graft.pipeline.PipelineDemo <nEntities> <outRoot> [cpus]
  */
object PipelineDemo {
  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toLong else 200L
    val outRoot = if (args.length > 1) args(1) else "/tmp/graft-er-demo"
    val cpus = if (args.length > 2) args(2) else Sessions.cpus
    val spark = Sessions.jobShape(cpus)

    val t0 = System.nanoTime()
    val pages = WebPageGen.pages(spark, n).toDF
    val cfg = ErPipeline.Config(outRoot = outRoot)
    val res = ErPipeline.run(spark, pages, cfg)
    val nPages = res.clusters.count()
    val labeled = WebPageGen.labeledPairs(spark, n)
    val m = ErPipeline.labeledPairMetrics(res.scored, labeled).head()
    val elapsed = (System.nanoTime() - t0) / 1e9
    println(f"[pipeline-demo] pages=$nPages%d candidates=${res.candidates.count()}%d " +
      f"matches=${res.scored.filter(org.apache.spark.sql.functions.col("matches")).count()}%d " +
      f"clusters=${res.clusters.select("cluster_id").distinct().count()}%d")
    println(f"[pipeline-demo] tp=${m.getAs[Long]("tp")} fp=${m.getAs[Long]("fp")} " +
      f"fn=${m.getAs[Long]("fn")} precision=${m.getAs[Double]("precision")}%.4f " +
      f"recall=${m.getAs[Double]("recall")}%.4f f1=${m.getAs[Double]("f1")}%.4f")
    println(f"[pipeline-demo] wall=${elapsed}%.1fs throughput=${nPages / elapsed}%.0f pages/s")
    spark.stop()
  }
}
