package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.operators.{Ann, AnnIndex}

/** Persisted ANN index stages (ResumeSpec discipline): first build
  * computes and writes; second build with the same corpus + params skips
  * every compute and reads the stage parquet back; results are identical
  * to the unindexed paths; a corpus change rebuilds.
  */
class AnnIndexSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private def emb = spark.read.parquet(s"$dir/embeddings.parquet")

  private def tmpRoot(): String =
    Files.createTempDirectory("graft_annidx_spec").toString

  private def manifestMtime(root: String, stage: String): Long =
    Files.getLastModifiedTime(Paths.get(root, stage, "manifest.json")).toMillis

  test("IVF index builds once, resumes from stage tables, matches direct ivfTopK") {
    val root = tmpRoot()
    try {
      val queries = emb.filter(col("vec_id") < 10)
      val idx1 = AnnIndex.buildIvf(spark, root, emb, "vec_id", "embedding", cells = 8)
      val t1c = manifestMtime(root, "ivf_centroids")
      val t1a = manifestMtime(root, "ivf_cells")
      Thread.sleep(1100) // mtime granularity
      val idx2 = AnnIndex.buildIvf(spark, root, emb, "vec_id", "embedding", cells = 8)
      // second invocation resumed: no stage recomputed, manifests untouched
      assert(manifestMtime(root, "ivf_centroids") === t1c, "centroids stage recomputed")
      assert(manifestMtime(root, "ivf_cells") === t1a, "cell-assignment stage recomputed")
      assert(idx1.centroids.map(_.toSeq).toSeq === idx2.centroids.map(_.toSeq).toSeq)

      // the indexed probe returns exactly what the one-shot path returns
      val direct = Ann.ivfTopK(queries, emb, "vec_id", "vec_id", "embedding", 5,
        cells = 8, nProbe = 4).collect().map(_.toSeq).toSet
      val indexed = AnnIndex.ivfTopK(queries, idx2, "vec_id", "embedding", 5, nProbe = 4)
        .collect().map(_.toSeq).toSet
      assert(indexed === direct)
      assert(indexed.nonEmpty)

      // a corpus change invalidates the fingerprint and rebuilds
      AnnIndex.buildIvf(spark, root, emb.filter(col("vec_id") < 400),
        "vec_id", "embedding", cells = 8)
      assert(manifestMtime(root, "ivf_cells") > t1a, "changed corpus must rebuild")
    } finally graft.core.Scratch.delete(spark, root)
  }

  test("LSH bucket index resumes and matches direct lshTopK") {
    val root = tmpRoot()
    try {
      val queries = emb.filter(col("vec_id") < 10)
      val b1 = AnnIndex.buildLshBuckets(spark, root, emb, "vec_id", "embedding",
        bits = 4, tables = 8)
      val t1 = manifestMtime(root, "lsh_buckets")
      Thread.sleep(1100)
      val b2 = AnnIndex.buildLshBuckets(spark, root, emb, "vec_id", "embedding",
        bits = 4, tables = 8)
      assert(manifestMtime(root, "lsh_buckets") === t1, "bucket stage recomputed")
      assert(b2.buckets.columns.toSeq === Seq("neighbor_id", "bucket"))
      assert(b1.buckets.count() === emb.count() * 8)
      // the build params travel with the index — the query side cannot
      // hash with mismatched (bits, tables)
      assert((b2.bits, b2.tables) === ((4, 8)))

      val direct = Ann.lshTopK(queries, emb, "vec_id", "vec_id", "embedding", 5,
        bits = 4, tables = 8).collect().map(_.toSeq).toSet
      val indexed = AnnIndex.lshTopK(queries, b2, emb, "vec_id", "vec_id", "embedding", 5)
        .collect().map(_.toSeq).toSet
      assert(indexed === direct)
      assert(indexed.nonEmpty)
    } finally graft.core.Scratch.delete(spark, root)
  }

  test("int8 vector stage resumes; dequantized vectors match Ann.quantize") {
    val root = tmpRoot()
    try {
      val q1 = AnnIndex.buildQuantized(spark, root, emb, "vec_id", "embedding")
      val t1 = manifestMtime(root, "vec_int8")
      Thread.sleep(1100)
      val q2 = AnnIndex.buildQuantized(spark, root, emb, "vec_id", "embedding")
      assert(manifestMtime(root, "vec_int8") === t1, "quantized stage recomputed")
      assert(q2.columns.toSeq === Seq("vec_id", "q", "scale"))
      assert(q1.count() === emb.count())
      // stored (q, scale) dequantizes to the same vectors the inline
      // expression produces
      val inline = emb
        .select(col("vec_id"), Ann.quantize(col("embedding")).as("qs"))
        .select(col("vec_id"), Ann.dequantize(col("qs")).as("v"))
      val stored = q2
        .select(col("vec_id"), Ann.dequantize(struct(col("q"), col("scale"))).as("v"))
      assert(stored.join(inline.withColumnRenamed("v", "v2"), "vec_id")
        .filter(col("v") =!= col("v2")).count() === 0L)
    } finally graft.core.Scratch.delete(spark, root)
  }
}
