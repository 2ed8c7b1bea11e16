package erbench

import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.GraftKernels

/** Plain-JVM loop over the engine's per-row kernels (`graft.functions`),
  * outside Spark: warm up, then time whole passes over the sampled inputs
  * and report the median ns per call of several passes.
  */
object Kernels {

  final case class Result(name: String, nsPerCall: Double, calls: Long, inputs: Int)

  private val WarmUpNs = 300L * 1000 * 1000
  private val PassNs = 40L * 1000 * 1000
  private val Passes = 5

  /** Sink for kernel results, so the JIT cannot drop the calls. */
  @volatile var sink = 0L

  private def bench(name: String, inputs: Int)(call: Int => Long): Result = {
    def pass(minNs: Long): (Long, Long) = {
      var calls = 0L
      var acc = 0L
      val t0 = System.nanoTime()
      var el = 0L
      while (el < minNs) {
        var i = 0
        while (i < inputs) { acc += call(i); i += 1 }
        calls += inputs
        el = System.nanoTime() - t0
      }
      sink += acc
      (el, calls)
    }
    pass(WarmUpNs)
    val runs = (1 to Passes).map(_ => pass(PassNs))
    Result(name, Main.median(runs.map { case (ns, n) => ns.toDouble / n }), runs.map(_._2).sum, inputs)
  }

  private def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)

  /** names: (a, b) string pairs; embeddings: (a, b) float-vector pairs;
    * texts: page texts for the text kernels.
    */
  def run(
      names: Array[(UTF8String, UTF8String)],
      embeddings: Array[(ArrayData, ArrayData)],
      texts: Array[UTF8String]): Seq[Result] = Seq(
    bench("jaro_winkler", names.length) { i =>
      bits(GraftKernels.jaroWinkler(names(i)._1, names(i)._2))
    },
    bench("levenshtein", names.length) { i =>
      names(i)._1.levenshteinDistance(names(i)._2).toLong
    },
    bench("cosine", embeddings.length) { i =>
      bits(GraftKernels.cosineF(embeddings(i)._1, embeddings(i)._2))
    },
    bench("ngram_embed", names.length) { i =>
      GraftKernels.embedF(names(i)._1, ErWorkloads.Cfg.embedDim).numElements().toLong
    },
    bench("rhp_key", embeddings.length) { i =>
      GraftKernels.rhpKey(embeddings(i)._1, ErWorkloads.Cfg.lshBits, 0x5EED0000L)
    },
    bench("minhash", texts.length) { i =>
      GraftKernels.minhashSig(texts(i), 96, 3).getLong(0)
    },
    bench("simhash", texts.length) { i =>
      GraftKernels.simhash64(texts(i))
    })
}
