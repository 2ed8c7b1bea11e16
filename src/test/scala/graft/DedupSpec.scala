package graft

import org.apache.spark.sql.functions._

import graft.operators.{Ann, Dedup, Multimodal}

/** Dedup family: exact, shingle-Jaccard, MinHash+LSH recall/precision,
  * SimHash, embedding near-dup; plus ANN and the multimodal stub plumbing.
  */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = {
    // base docs + exact dup + near dup + unrelated
    val base = (0L until 40L).map { i =>
      val words = (0 until 50).map(j => s"w${(i * 31 + j * 7) % 97}")
      (i, words.mkString(" "))
    }
    val exact = base.take(10).map { case (i, t) => (i + 1000L, t) }
    val near = base.take(20).map { case (i, t) =>
      (i + 2000L, t.split(" ").dropRight(4).mkString(" "))
    }
    (base ++ exact ++ near).toDF("doc_id", "text")
  }

  test("exact dedup groups identical canonical content") {
    val groups = Dedup.exactDedup(docs, "doc_id", "text")
    assert(groups.filter($"n_dups" === 2).count() === 10)
    assert(groups.agg(sum("n_dups")).head().getLong(0) === docs.count())
    // keep_id is the minimum member
    assert(groups.filter($"n_dups" === 2).filter($"keep_id" >= 1000).count() === 0)
  }

  test("minhash LSH finds all near-dups found by brute-force jaccard") {
    val brute = docs.withColumn("b", lit(1))
      .select($"doc_id".as("id1"), $"text".as("t1"), $"b")
      .join(docs.select($"doc_id".as("id2"), $"text".as("t2"), lit(1).as("b")), Seq("b"))
      .filter($"id1" < $"id2")
      .select($"id1", $"id2",
        Dedup.jaccard(Dedup.shingles(lower($"t1"), 3), Dedup.shingles(lower($"t2"), 3)).as("jac"))
      .filter($"jac" >= 0.6)
      .select("id1", "id2")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val lsh = Dedup.ngramJaccardPairs(docs, "doc_id", "text", Nil, 3, 0.6,
      bands = 32, rowsPerBand = 3)
      .select("id1", "id2")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    assert(brute.subsetOf(lsh) && lsh.subsetOf(brute),
      s"missed=${brute -- lsh} extra=${lsh -- brute}")
    assert(brute.size >= 30, s"expected the planted dups, got ${brute.size}")
  }

  test("simhash buckets catch exact and near dups, verified by hamming") {
    val pairs = Dedup.simHashPairs(docs, "doc_id", "text", maxHamming = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // exact dups have hamming 0 and must all be found
    (0L until 10L).foreach { i =>
      assert(pairs.contains((i, i + 1000L)), s"exact dup $i missing")
    }
  }

  test("embedding near-dup pairs at threshold") {
    val e = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.99f, 0.1f, 0.0f)),
      (3L, Array(0.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingPairs(e, "vec_id", "embedding", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 2L)))
  }

  test("tiled exact embedding join equals the all-pairs definition") {
    import graft.functions.GraftKernels.mix64
    val e = (0L until 120L).map { i =>
      (i, Array.tabulate(8)(d => (mix64(i * 8 + d).toDouble / Long.MaxValue).toFloat))
    }.toDF("vec_id", "embedding")
    val brute = e.select($"vec_id".as("id1"), $"embedding".as("e1"), lit(1).as("b"))
      .join(e.select($"vec_id".as("id2"), $"embedding".as("e2"), lit(1).as("b")), Seq("b"))
      .filter($"id1" < $"id2")
      .filter(graft.functions.Similarity.cosineSim(
        $"e1".cast("array<double>"), $"e2".cast("array<double>")) >= 0.5)
      .select("id1", "id2")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val tiled = Dedup.embeddingPairsExact(e, "vec_id", "embedding", 0.5, tiles = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(tiled === brute, s"missed=${brute -- tiled} extra=${tiled -- brute}")
    assert(brute.nonEmpty, "test corpus should contain pairs above threshold")
  }

  test("LSH embedding near-dup achieves high recall on clustered vectors") {
    import graft.functions.GraftKernels.mix64
    val e = (0L until 200L).map { i =>
      val c = (i % 20).toInt
      val base = Array.tabulate(16)(d => math.sin(c * 2.1 + d * 0.9))
      val v = base.zipWithIndex.map { case (x, d) =>
        (x + 1e-2 * (mix64(i * 16 + d).toDouble / Long.MaxValue)).toFloat }
      (i, v)
    }.toDF("vec_id", "embedding")
    val exact = Dedup.embeddingPairsExact(e, "vec_id", "embedding", 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.embeddingPairsLsh(e, "vec_id", "embedding", 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    // verify stage keeps precision exact; banding keeps recall near 1
    assert(lsh.subsetOf(exact), s"false positives: ${lsh -- exact}")
    val recall = lsh.size.toDouble / exact.size
    info(s"embedding lsh recall=$recall over ${exact.size} true pairs")
    assert(recall >= 0.95, s"recall $recall too low")
  }

  test("interleaved dedup queries each keep their own signature cache") {
    // Two DIFFERENT dedup queries built before either executes: under the
    // old process-global persist slot the second construction evicted the
    // first query's signature cache, silently re-running the minhash
    // kernel 3x. Per-call materialization (eager localCheckpoint) gives
    // each query its own blocks — both plans must read from materialized
    // RDD scans, not recompute the kernels.
    val blocked = docs.withColumn("lang", lit("en")).withColumn("source", lit("s"))
    val q1 = Dedup.ngramJaccardPairs(docs, "doc_id", "text", Nil, 3, 0.6,
      bands = 32, rowsPerBand = 3)
    val q2 = Dedup.ngramJaccardPairs(blocked, "doc_id", "text",
      Seq("lang", "source"), 3, 0.5)
    // both signature tables are already materialized per-call; the final
    // plans scan the checkpointed RDDs and contain NO minhash kernel
    for (q <- Seq(q1, q2)) {
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("ExistingRDD") || plan.contains("Scan ExistingRDD"),
        s"expected a materialized signature scan, got:\n${plan.take(600)}")
      assert(!plan.contains("minhash_sig"),
        "signature kernel leaked into the execution plan (recompute)")
    }
    // interleaved execution: both produce their correct results
    val r1 = q1.select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val r2 = q2.collect()
    assert(r1.nonEmpty && r2.nonEmpty)
    assert((0L until 10L).forall(i => r1.contains((i, i + 1000L))), "q1 lost its dups")
  }

  test("minhash-prefiltered jaccard equals the brute in-block verifier") {
    val blocked = docs.withColumn("blk", lit("all"))
    val brute = Dedup.ngramJaccardPairsBrute(blocked, "doc_id", "text", Seq("blk"), 3, 0.5)
      .select("id1", "id2")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fast = Dedup.ngramJaccardPairs(blocked, "doc_id", "text", Seq("blk"), 3, 0.5)
      .select("id1", "id2")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fast === brute, s"missed=${brute -- fast} extra=${fast -- brute}")
    assert(brute.size >= 30, s"expected the planted dups, got ${brute.size}")
  }

  test("ann brute-force top-k is exact and deterministic") {
    val e = (0L until 100L).map { i =>
      (i, Array.tabulate(8)(d => math.sin(i * 0.7 + d).toFloat))
    }.toDF("vec_id", "embedding")
    val topk = Ann.bruteForceTopK(e.filter($"vec_id" < 5), e, "vec_id", "vec_id", "embedding", 3)
    assert(topk.count() === 15)
    assert(topk.filter($"query_id" === $"neighbor_id").count() === 0)
    val again = Ann.bruteForceTopK(e.filter($"vec_id" < 5), e, "vec_id", "vec_id", "embedding", 3)
    assert(topk.collect().toSet === again.collect().toSet)
  }

  test("ann LSH recall is high on genuinely clustered vectors") {
    // 20 centers x 10 members with small perturbations: true neighbors
    // have cosine ~0.99, where random-hyperplane buckets must find them
    import graft.functions.GraftKernels.mix64
    val e = (0L until 200L).map { i =>
      val c = (i % 20).toInt
      val base = Array.tabulate(16)(d => math.sin(c * 2.1 + d * 0.9))
      val v = base.zipWithIndex.map { case (x, d) =>
        (x + 1e-2 * (mix64(i * 16 + d).toDouble / Long.MaxValue)).toFloat }
      (i, v)
    }.toDF("vec_id", "embedding")
    val q = e.filter($"vec_id" < 20)
    val recall = Ann.recall(Ann.bruteForceTopK(q, e, "vec_id", "vec_id", "embedding", 5),
      Ann.lshTopK(q, e, "vec_id", "vec_id", "embedding", 5, bits = 6, tables = 8),
      Ann.TopKKeys)
      .head().getDouble(0)
    info(s"lsh recall=$recall")
    assert(recall >= 0.9, s"LSH recall $recall too low")
  }

  test("ann IVF recall is high on genuinely clustered vectors") {
    import graft.functions.GraftKernels.mix64
    val e = (0L until 200L).map { i =>
      val c = (i % 20).toInt
      val base = Array.tabulate(16)(d => math.sin(c * 2.1 + d * 0.9))
      val v = base.zipWithIndex.map { case (x, d) =>
        (x + 1e-2 * (mix64(i * 16 + d).toDouble / Long.MaxValue)).toFloat }
      (i, v)
    }.toDF("vec_id", "embedding")
    val q = e.filter($"vec_id" < 20)
    def measure = Ann.recall(Ann.bruteForceTopK(q, e, "vec_id", "vec_id", "embedding", 5),
      Ann.ivfTopK(q, e, "vec_id", "vec_id", "embedding", 5, cells = 20, nProbe = 3),
      Ann.TopKKeys).head().getDouble(0)
    val recall = measure
    info(s"ivf recall=$recall (probing 3/20 cells)")
    assert(recall >= 0.9, s"IVF recall $recall too low on clustered vectors")
    // deterministic: trained on a hash-ordered sample, driver-side Lloyd
    val again = measure
    assert(recall === again)
  }

  test("recall: share of exact rows the approximate result holds, over the exact count") {
    val exact = Seq((1L, 10L), (1L, 11L), (2L, 10L), (2L, 12L)).toDF("query_id", "neighbor_id")
    // one exact row missing, one extra approximate row that must not count
    val approx = Seq((1L, 10L), (1L, 11L), (2L, 12L), (2L, 13L)).toDF("query_id", "neighbor_id")
    val r = Ann.recall(exact, approx, Ann.TopKKeys).head()
    assert(r.getDouble(0) === 0.75 && r.getLong(1) === 4L)
    assert(Ann.recall(exact, exact, Ann.TopKKeys).head().getDouble(0) === 1.0)
    val none = Ann.recall(exact, approx.filter($"query_id" === 9L), Ann.TopKKeys).head()
    assert(none.getDouble(0) === 0.0 && none.getLong(1) === 4L)
  }

  test("int8 quantization: bounded round-trip error, near-perfect recall") {
    import org.apache.spark.sql.functions.col
    val e = (0L until 100L).map { i =>
      (i, Array.tabulate(8)(d => math.sin(i * 0.7 + d).toFloat))
    }.toDF("vec_id", "embedding")
    // round-trip error bound: |x - deq(q(x))| <= scale/2 per component
    val rt = e.select(
      col("embedding").cast("array<double>").as("x"),
      Ann.dequantize(Ann.quantize(col("embedding"))).as("y"),
      Ann.quantize(col("embedding")).getField("scale").as("s"))
      .collect()
    rt.foreach { r =>
      val x = r.getSeq[Double](0); val y = r.getSeq[Double](1); val s = r.getDouble(2)
      x.zip(y).foreach { case (a, b) =>
        assert(math.abs(a - b) <= s / 2 + 1e-12, s"component error ${math.abs(a - b)} > ${s / 2}")
      }
    }
    val r = Ann.quantizedRecall(e.filter($"vec_id" < 10), e, "vec_id", "vec_id", "embedding", 5)
      .head()
    val recall = r.getDouble(0)
    info(s"quantized recall=$recall")
    assert(recall >= 0.9, s"int8 recall $recall too low")
  }

  test("multimodal video: real decode, schema, determinism, batch shape") {
    val media = docs.limit(10)
      .select($"doc_id".cast("long")).as[Long]
      .map(id => (id, Multimodal.syntheticAvi(id), "video"))
      .toDF("doc_id", "payload", "kind")
    val feats = Multimodal.extractFeatures(media, dim = 16)
    val rows = feats.collect()
    assert(rows.length === 10)
    assert(rows.forall(_.feature.length === 16))
    // REAL container dims (closed form), not stub fakes
    assert(rows.forall(r =>
      r.width == 4 + (r.doc_id % 8) && r.height == 4 + (r.doc_id % 4)))
    // deterministic
    val again = Multimodal.extractFeatures(media, dim = 16).collect()
    assert(rows.map(_.feature.toSeq).toSeq === again.map(_.feature.toSeq).toSeq)
    // the seek index parses real chunk offsets without decoding
    val frames = Multimodal.sampleFrames(media, stride = 2)
    assert(frames.agg(min("n_frames")).head().getInt(0) >= 1)
    assert(frames.filter(size($"frame_offsets") =!=
      org.apache.spark.sql.functions.expr("(n_frames + 1) div 2")).count() === 0L)
  }

  test("line dedup: corpus-frequent lines removed, order kept, intra-doc reps survive") {
    val pages = ((1L to 12L).map(i => (i, s"BP\nu$i")) ++ Seq(
      (13L, "a\nBP\nb"),   // removal in the middle, order preserved
      (14L, "r\nr\nz"),    // repeated within ONE doc: df=1, not boilerplate
      (15L, "BP")))        // page that is pure chrome drops out entirely
      .toDF("doc_id", "page")
    val out = Dedup.lineDedup(pages, "doc_id", "page", minDf = 10)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(out.size === 14)           // doc 15 gone
    assert(!out.contains(15L))
    (1L to 12L).foreach(i => assert(out(i) === ((1L, s"u$i"))))
    assert(out(13L) === ((2L, "a\nb")))
    assert(out(14L) === ((3L, "r\nr\nz")))
  }
}
