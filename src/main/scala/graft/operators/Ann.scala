package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.Similarity

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * bruteForceTopK is the exact baseline: broadcast the (small) query set,
  * stream the corpus once, per-partition top-k via window. The corpus scan
  * never shuffles — only the (queries x k) result does.
  *
  * lshTopK is the scale path: random-hyperplane bucket keys on both sides
  * (multiple tables), equi-join on bucket, exact cosine re-rank within the
  * collided candidates. Probing cost ~ bucket occupancy instead of |corpus|.
  */
object Ann {

  private def asDouble(c: org.apache.spark.sql.Column) = c.cast("array<double>")

  /** (query_id, neighbor_id, rk) — exact top-k by cosine, ties broken by
    * neighbor id (fully deterministic output).
    */
  def bruteForceTopK(
      queries: DataFrame, corpus: DataFrame,
      qId: String, cId: String, embCol: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(col(qId).as("query_id"), col(embCol).as("qe")))
    val c = corpus.select(col(cId).as("neighbor_id"), col(embCol).as("ce"))
      // explicit width: spread single-split corpora; per-row cost here is
      // |queries| cosines, so an AQE-coalesced exchange would serialize it
      .repartition(graft.core.Par.spread(corpus.sparkSession), col("neighbor_id"))
    topK(c.join(q, col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", Similarity.cosineSim(asDouble(col("qe")), asDouble(col("ce")))), k)
  }

  /** The one top-k rule of every ANN path: per query, `sim` descending
    * with `neighbor_id` as tie-break, keep `rk <= k`.
    */
  private def topK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select("query_id", "neighbor_id", "rk")
  }

  /** Exploded (id, bucket) random-hyperplane keys — the persistable LSH
    * index artifact (one row per table per vector). Table t hashes with
    * hyperplanes seeded `seed + t`, so two callers share buckets exactly
    * when they share the seed.
    */
  private[operators] def rhpBuckets(
      df: DataFrame, id: String, as: String, embCol: String,
      bits: Int, tables: Int, seed: Long): DataFrame =
    df.select(col(id).as(as),
      explode(array((0 until tables).map(t =>
        concat(lit(s"$t:"),
          Similarity.rhpKey(col(embCol), bits, seed + t).cast("string"))): _*))
        .as("bucket"))

  /** Hyperplane seed of the ANN bucket tables (query and corpus side). */
  private[operators] val LshSeed = 0xA11CE000L

  /** LSH-bucketed approximate top-k: candidates = bucket collisions in any
    * of `tables` random-hyperplane tables, re-ranked exactly.
    */
  def lshTopK(
      queries: DataFrame, corpus: DataFrame,
      qId: String, cId: String, embCol: String, k: Int,
      bits: Int = 8, tables: Int = 4): DataFrame =
    lshTopKWithBuckets(queries,
      rhpBuckets(corpus, cId, "neighbor_id", embCol, bits, tables, LshSeed),
      corpus, qId, cId, embCol, k, bits, tables)

  /** lshTopK over PREBUILT corpus buckets (see AnnIndex: built once per
    * corpus snapshot, resumed across query batches); queries are keyed on
    * the fly — they are the small ad-hoc side.
    */
  def lshTopKWithBuckets(
      queries: DataFrame, corpusBuckets: DataFrame, corpus: DataFrame,
      qId: String, cId: String, embCol: String, k: Int,
      bits: Int, tables: Int): DataFrame = {
    val q = rhpBuckets(queries, qId, "query_id", embCol, bits, tables, LshSeed)
    val c = corpusBuckets
    // the bucket join and the collision dedup carry IDS ONLY — both
    // embedding payloads join back once per deduped pair, not once per
    // colliding bucket (same shape as Dedup.embeddingPairsLsh): the
    // distinct shuffles two ids per candidate instead of two vectors
    val ids = q.join(c, Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"))
      .distinct()
    val qe = queries.select(col(qId).as("query_id"), col(embCol).as("qe"))
    val ce = corpus.select(col(cId).as("neighbor_id"), col(embCol).as("ce"))
    topK(ids.join(qe, "query_id").join(ce, "neighbor_id")
      .withColumn("sim", Similarity.cosineSim(
        asDouble(col("qe")), asDouble(col("ce")))), k)
  }

  /** IVF (inverted-file) approximate top-k: a coarse k-means quantizer
    * partitions the corpus into `cells` inverted lists; each query probes
    * its `nProbe` nearest cells and re-ranks exactly within them. Probing
    * cost ~ nProbe/cells of the corpus instead of all of it.
    *
    * The quantizer trains DRIVER-SIDE on a bounded, hash-ordered sample
    * (standard IVF practice — training never needs the full corpus), which
    * keeps it fully deterministic: distributed float aggregation would
    * make centroids partition-order-dependent and flip borderline
    * assignments run to run. Assignment + probing are pure functions of
    * the trained centroids, executed as broadcast-literal cosine
    * expressions inside codegen.
    */
  def ivfTopK(
      queries: DataFrame, corpus: DataFrame,
      qId: String, cId: String, embCol: String, k: Int,
      cells: Int = 16, nProbe: Int = 4,
      sampleN: Int = 4096, iters: Int = 8): DataFrame = {
    val centroids = trainIvf(corpus, cId, embCol, cells, sampleN, iters)
    val corpusCells = assignCells(corpus, cId, embCol, centroids)
    ivfProbe(queries, qId, embCol, centroids, corpusCells, k, nProbe)
  }

  /** Deterministic coarse-quantizer training: bounded hash-ordered sample
    * (the only collect — standard IVF practice, training never needs the
    * full corpus) + driver-side Lloyd iterations.
    */
  private[operators] def trainIvf(
      corpus: DataFrame, cId: String, embCol: String,
      cells: Int, sampleN: Int, iters: Int): Array[Array[Double]] = {
    val sample = corpus
      .select(col(embCol).cast("array<float>").as("e"), xxhash64(col(cId)).as("_h"))
      .orderBy(col("_h"))
      .limit(sampleN)
      .collect()
      .map(_.getAs[scala.collection.Seq[Float]]("e").toArray)
    trainKMeans(sample, cells, iters)
  }

  private[operators] def cellSims(centroids: Array[Array[Double]])(
      e: org.apache.spark.sql.Column) = array(centroids.zipWithIndex.map {
    case (c, i) =>
      struct(
        Similarity.cosineSim(e, typedLit(c.toSeq)).as("sim"),
        lit(i).as("cell"))
  }: _*)

  /** Corpus rows land in their single nearest cell: array_max over
    * (sim, cell) structs = max cosine, HIGHEST cell index on exact sim
    * ties (struct ordering) — deterministic; note trainKMeans's own
    * assignment breaks ties toward the LOWEST index, which only matters
    * for exactly-equidistant vectors. Output: (neighbor_id, ce, cell) —
    * the inverted-file table (the persistable index artifact).
    */
  private[operators] def assignCells(
      corpus: DataFrame, cId: String, embCol: String,
      centroids: Array[Array[Double]]): DataFrame =
    corpus.select(
      col(cId).as("neighbor_id"), col(embCol).cast("array<double>").as("ce"))
      .withColumn("cell", array_max(cellSims(centroids)(col("ce"))).getField("cell"))

  /** Probe side of IVF: queries probe their nProbe nearest cells, exact
    * re-rank within the probed inverted lists.
    */
  private[operators] def ivfProbe(
      queries: DataFrame, qId: String, embCol: String,
      centroids: Array[Array[Double]], corpusCells: DataFrame,
      k: Int, nProbe: Int): DataFrame = {
    val queryCells = queries.select(
      col(qId).as("query_id"), col(embCol).cast("array<double>").as("qe"))
      .withColumn("probe", slice(reverse(array_sort(cellSims(centroids)(col("qe")))), 1, nProbe))
      .select(col("query_id"), col("qe"), explode(col("probe")).as("p"))
      .select(col("query_id"), col("qe"), col("p.cell").as("cell"))
    topK(queryCells.join(corpusCells, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", Similarity.cosineSim(col("qe"), col("ce"))), k)
  }

  /** Deterministic driver-side Lloyd iterations: centroids initialized
    * from the first `cells` sample vectors, empty cells re-seeded from the
    * sample, components rounded to 1e-6 each round to pin float identity.
    */
  private[operators] def trainKMeans(
      sample: Array[Array[Float]], cells: Int, iters: Int): Array[Array[Double]] = {
    require(sample.nonEmpty, "IVF training sample is empty")
    val dim = sample.head.length
    def cosine(a: Array[Double], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < dim) {
        val x = a(i); val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
    }
    var cents = Array.tabulate(math.min(cells, sample.length))(i =>
      sample(i).map(_.toDouble))
    var it = 0
    while (it < iters) {
      val sums = Array.fill(cents.length)(new Array[Double](dim))
      val counts = new Array[Int](cents.length)
      sample.foreach { v =>
        var best = 0; var bestSim = Double.NegativeInfinity; var c = 0
        while (c < cents.length) {
          val s = cosine(cents(c), v)
          if (s > bestSim) { bestSim = s; best = c }
          c += 1
        }
        var i = 0
        while (i < dim) { sums(best)(i) += v(i); i += 1 }
        counts(best) += 1
      }
      cents = Array.tabulate(cents.length) { c =>
        if (counts(c) == 0) sample(c % sample.length).map(_.toDouble) // re-seed
        else sums(c).map(x => math.rint(x / counts(c) * 1e6) / 1e6)
      }
      it += 1
    }
    cents
  }

  /** Per-vector symmetric int8 quantization: q_i = round(x_i / s) with
    * s = max|x| / 127, stored as (array<tinyint>, scale). 4x less vector
    * memory and shuffle volume than float32 — the storage lever for
    * 100 TB-scale vector search; cosine over the dequantized ints is
    * within ~1% of the float answer on unit-ish vectors, and the recall
    * query below self-checks exactly that. Pure Catalyst (transform +
    * aggregate), no UDF.
    */
  def quantize(emb: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val e = emb.cast("array<double>")
    val maxAbs = array_max(transform(e, x => abs(x)))
    val scale = when(maxAbs > 0, maxAbs / 127.0).otherwise(lit(1.0))
    struct(
      transform(e, x => round(x / scale).cast("byte")).as("q"),
      scale.as("scale"))
  }

  /** Dequantized double vector from a quantize() struct (scale folds out
    * of cosine, but keeping it makes the codec lossless-up-to-rounding
    * for any downstream metric, L2 included).
    */
  def dequantize(qs: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    transform(qs.getField("q"), x => x.cast("double") * qs.getField("scale"))

  /** Key of every top-k output: one row per (query, neighbor). */
  val TopKKeys: Seq[String] = Seq("query_id", "neighbor_id")

  /** The one recall rule of the approximate operators: the share of
    * `exact` rows (matched on `keys`) that `approx` also returns, as
    * (recall, n) with n the exact row count. `approx` must hold each key
    * at most once — every top-k and pair output here is distinct on it.
    */
  def recall(exact: DataFrame, approx: DataFrame, keys: Seq[String]): DataFrame =
    exact.join(approx.select((keys.map(col) :+ lit(1).as("hit")): _*), keys, "left")
      .agg((sum(coalesce(col("hit"), lit(0))).cast("double") / count(lit(1))).as("recall"),
        count(lit(1)).as("n"))

  /** Recall of brute-force top-k over int8-quantized vectors vs the
    * float-exact baseline (self-check metric for the storage lever).
    */
  def quantizedRecall(
      queries: DataFrame, corpus: DataFrame,
      qId: String, cId: String, embCol: String, k: Int): DataFrame = {
    // bind the quantize struct to a named column BEFORE dequantize's
    // transform touches it: a lambda re-evaluates outer expressions per
    // element, so inlining quantize() would recompute the array_max scale
    // once per component — O(d^2)/row (the same trap documented on
    // TextAnalysis.uniqueWordFracOf)
    def deq(df: DataFrame) =
      df.withColumn("_qs", quantize(col(embCol)))
        .withColumn(embCol, dequantize(col("_qs")))
        .drop("_qs")
    recall(bruteForceTopK(queries, corpus, qId, cId, embCol, k),
      bruteForceTopK(deq(queries), deq(corpus), qId, cId, embCol, k), TopKKeys)
  }
}
