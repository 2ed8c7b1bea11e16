package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.plans.StageStore

/** Persisted ANN / vector-index artifacts (VERDICT r4 item 5): the
  * expensive corpus-derived tables — IVF centroids + inverted-file cell
  * assignments, random-hyperplane bucket keys, int8-quantized vectors —
  * build ONCE as fingerprinted StageStore stages and RESUME on every
  * later invocation with the same (corpus fingerprint, params). At
  * production scale the index is built once per corpus snapshot and
  * reused across query batches (the reference builds its Annoy index once
  * per encode pass, idrt/algorithm/run_search.py:109-131); a corpus or
  * parameter change invalidates the manifests and rebuilds, and the
  * per-file lineage check refuses a corrupted index instead of serving
  * wrong neighbors.
  */
object AnnIndex {

  private val Version = "graft-annidx-v1"

  /** Order-insensitive fingerprint of (id, vector) — one corpus pass;
    * any vector or membership change invalidates every downstream stage.
    */
  private def corpusFingerprint(corpus: DataFrame, cId: String, embCol: String): String =
    StageStore.fingerprint(corpus.select(col(cId), col(embCol).cast("array<double>")))

  final case class IvfIndex(centroids: Array[Array[Double]], corpusCells: DataFrame)

  /** Build (or resume) the IVF index: a tiny `ivf_centroids` stage (one
    * row per cell) and the corpus-sized `ivf_cells` inverted-file stage.
    * The second invocation with an unchanged corpus skips BOTH computes —
    * no sample collect, no k-means, no assignment scan — and reads the
    * stage parquet back (lineage-verified).
    */
  def buildIvf(
      spark: SparkSession, root: String, corpus: DataFrame,
      cId: String, embCol: String,
      cells: Int = 16, sampleN: Int = 4096, iters: Int = 8): IvfIndex = {
    import spark.implicits._
    val fp = corpusFingerprint(corpus, cId, embCol)
    val params = Map(
      "cells" -> cells.toString, "sampleN" -> sampleN.toString,
      "iters" -> iters.toString)
    val centroidsDf = StageStore.runStage(
      spark, root, "ivf_centroids", Version, fp, params) {
      Ann.trainIvf(corpus, cId, embCol, cells, sampleN, iters)
        .zipWithIndex
        .map { case (c, i) => (i, c.toSeq) }
        .toSeq.toDF("cell", "centroid")
    }
    val centroids = centroidsDf.orderBy("cell")
      .collect()
      .map(_.getAs[scala.collection.Seq[Double]]("centroid").toArray)
    // chain the centroid stage into the cells fingerprint: retrained
    // centroids (param change) must invalidate the assignments too
    val cellsDf = StageStore.runStage(
      spark, root, "ivf_cells", Version, fp + ">ivf_centroids", params) {
      Ann.assignCells(corpus, cId, embCol, centroids)
    }
    IvfIndex(centroids, cellsDf)
  }

  /** IVF top-k straight from a persisted index — no training, no
    * assignment scan; only the probe runs.
    */
  def ivfTopK(
      queries: DataFrame, index: IvfIndex,
      qId: String, embCol: String, k: Int, nProbe: Int = 4): DataFrame =
    Ann.ivfProbe(queries, qId, embCol, index.centroids, index.corpusCells, k, nProbe)

  /** A persisted RHP bucket table TOGETHER with the (bits, tables) that
    * keyed it. Query-side hashing must use exactly the build-time params
    * (different params hash with different hyperplanes, so collisions —
    * and therefore recall — silently collapse to ~zero); carrying them in
    * the index value makes a mismatch unrepresentable: the only way to
    * obtain an LshIndex is through buildLshBuckets, whose stage
    * fingerprint includes the params, so a different-params build resumes
    * a DIFFERENT stage rather than reinterpreting this one.
    */
  final case class LshIndex(buckets: DataFrame, bits: Int, tables: Int)

  /** Build (or resume) the exploded (neighbor_id, bucket) RHP key table
    * for LSH search (one row per table per vector).
    */
  def buildLshBuckets(
      spark: SparkSession, root: String, corpus: DataFrame,
      cId: String, embCol: String,
      bits: Int = 8, tables: Int = 4): LshIndex =
    LshIndex(
      StageStore.runStage(
        spark, root, "lsh_buckets", Version,
        corpusFingerprint(corpus, cId, embCol),
        Map("bits" -> bits.toString, "tables" -> tables.toString)) {
        Ann.rhpBuckets(corpus, cId, "neighbor_id", embCol, bits, tables, Ann.LshSeed)
      }, bits, tables)

  /** LSH top-k over a persisted bucket index (queries keyed on the fly —
    * they are the small ad-hoc side; `corpus` supplies the exact vectors
    * for the re-rank joins). Query keys are hashed with the INDEX's
    * params — there is no caller-supplied bits/tables to get wrong.
    */
  def lshTopK(
      queries: DataFrame, index: LshIndex, corpus: DataFrame,
      qId: String, cId: String, embCol: String, k: Int): DataFrame =
    Ann.lshTopKWithBuckets(queries, index.buckets, corpus,
      qId, cId, embCol, k, index.bits, index.tables)

  /** Build (or resume) the int8-quantized vector table (id, q, scale) —
    * the 4x-smaller storage/shuffle representation (Ann.quantize).
    */
  def buildQuantized(
      spark: SparkSession, root: String, corpus: DataFrame,
      cId: String, embCol: String): DataFrame =
    StageStore.runStage(
      spark, root, "vec_int8", Version,
      corpusFingerprint(corpus, cId, embCol), Map.empty) {
      corpus.select(col(cId).as("vec_id"), Ann.quantize(col(embCol)).as("qs"))
        .select(col("vec_id"), col("qs.q").as("q"), col("qs.scale").as("scale"))
    }
}
