package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Par
import graft.functions.{Normalize, Similarity, TextAnalysis}

/** Training-data-pipeline deduplication operators: exact, word-shingle
  * Jaccard, MinHash+LSH, SimHash, embedding near-dup. Each is a
  * declarative plan (scan -> signature projection -> equi self-join on a
  * bucket key -> verify) — the shuffles are keyed by signature buckets, so
  * at 100 TB the cost is O(candidates), never O(n^2).
  */
object Dedup {

  /** Signature tables are read 3x per query (banding + both verify sides),
    * so they are materialized ONCE per call via an eager localCheckpoint
    * (MEMORY_AND_DISK blocks on the executors). Unlike a shared persist
    * slot, every call owns its own materialization: interleaved or
    * concurrent dedup queries can never evict each other's signatures, and
    * the blocks are released automatically by Spark's ContextCleaner when
    * the returned plan is no longer referenced — no JVM-lifetime pin, no
    * per-query unpersist bookkeeping for callers.
    */
  private def materializeOnce(df: DataFrame): DataFrame = df.localCheckpoint()

  /** Exact dedup: one row per distinct content hash with group size and
    * the surviving (minimum) id.
    */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), TextAnalysis.docFingerprint(col(textCol)).as("fingerprint"))
      .groupBy("fingerprint")
      .agg(min(idCol).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Word n-gram shingle set of a text column (distinct, order-free). */
  def shingles(text: Column, n: Int): Column = {
    val w = split(text, " ")
    val idx = sequence(lit(1), greatest(size(w) - (n - 1), lit(0)))
    val grams = transform(idx, i =>
      concat_ws(" ", (0 until n).map(o => element_at(w, i + o)): _*))
    array_distinct(when(size(w) >= n, grams).otherwise(array(array_join(w, " "))))
  }

  /** Jaccard via merge-scan overlap of two SORTED hashed shingle sets —
    * identical values to set Jaccard, O(n+m) per pair, no hash set.
    */
  def jaccardSorted(a: Column, b: Column): Column = {
    val inter = Similarity.sortedOverlap(a, b).cast("double")
    val union = (size(a) + size(b)).cast("double") - inter
    when(union === 0, lit(0.0)).otherwise(inter / union)
  }

  /** Set Jaccard over two shingle arrays — exact int/int division, so it
    * reproduces identically in any engine (oracle-safe).
    */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val union = size(array_union(a, b)).cast("double")
    when(union === 0, lit(0.0)).otherwise(inter / union)
  }

  /** Near-dup pairs by exact shingle Jaccard within a block column — the
    * brute-force verifier (quadratic in block size; callers MUST bound the
    * block). Kept only as the bounded-block verifier / oracle twin; the
    * scale path is ngramJaccardPairs below.
    */
  def ngramJaccardPairsBrute(
      df: DataFrame, idCol: String, textCol: String,
      blockCols: Seq[String], n: Int, threshold: Double): DataFrame = {
    // small single-split inputs would otherwise run the whole pair scan in
    // one task after a broadcast self-join; spread by block key first (on
    // real multi-split tables this exchange matches the data layout)
    val base = df.select((blockCols.map(col) :+ col(idCol) :+
      Similarity.shingleHashes(Normalize.canonicalText(col(textCol)), n).as("sh")): _*)
      .repartition(Par.spread(df.sparkSession), blockCols.map(col) :+ col(idCol): _*)
    val lhs = base.select((blockCols.map(col) :+ col(idCol).as("id1") :+ col("sh").as("sh1")): _*)
    val rhs = base.select((blockCols.map(col) :+ col(idCol).as("id2") :+ col("sh").as("sh2")): _*)
    lhs.join(rhs, blockCols)
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"), round(jaccardSorted(col("sh1"), col("sh2")), 4).as("jac"))
      .filter(col("jac") >= threshold)
  }

  private val BandMissBound = 2e-8

  def derivedBands(threshold: Double, rowsPerBand: Int): Int = {
    require(threshold > 0.0 && threshold <= 1.0, s"threshold must be in (0,1]: $threshold")
    val collide = math.pow(threshold, rowsPerBand)
    val b =
      if (collide >= 1.0) 1
      else math.max(1, math.ceil(math.log(BandMissBound) / math.log(1.0 - collide)).toInt)
    require(b <= 1024,
      s"threshold $threshold needs $b bands (k=${b * rowsPerBand} minhashes) for a " +
        s"$BandMissBound miss bound — raise the threshold or pass explicit (bands, rowsPerBand)")
    math.max(64, b)
  }

  /** Exact shingle-Jaccard near-dup pairs at scale: MinHash-LSH banding
    * generates candidates, exact sorted-overlap Jaccard verifies — same
    * output as the brute verifier, but the self-join is keyed by (block,
    * band, bucket) so per-key fan-out is bounded by bucket occupancy, never
    * block^2. The candidate stage misses a true pair at Jaccard exactly
    * `threshold` with probability (1 - threshold^rowsPerBand)^bands; by
    * default `bands` is DERIVED from the caller's threshold so that bound
    * stays <= ~2e-8 at ANY threshold (e.g. t=0.5 -> 64 bands, t=0.3 -> 188,
    * t=0.2 -> 435) — a caller lowering the threshold keeps the
    * exhaustiveness guarantee instead of silently losing pairs. Explicit
    * (bands, rowsPerBand) overrides are honored for tuning. With no
    * `blockCols` this is the plain MinHash+LSH detector over the whole
    * input (signature -> band keys -> bucket equi-join -> exact-Jaccard
    * verify; dedup_minhash_lsh runs it at bands=32, rowsPerBand=3).
    */
  def ngramJaccardPairs(
      df: DataFrame, idCol: String, textCol: String,
      blockCols: Seq[String], n: Int, threshold: Double,
      bands: Int = 0, rowsPerBand: Int = 2): DataFrame = {
    val b = if (bands > 0) bands else derivedBands(threshold, rowsPerBand)
    val k = b * rowsPerBand
    val canon = Normalize.canonicalText(col(textCol))
    // signature table is read three times (banding + both verify sides);
    // materialize once so the shingle/minhash kernels run once per row
    // explicit width: the minhash/shingle kernels are per-row-heavy, and
    // an AQE-coalesced exchange would compute them all in one task
    val sigd = materializeOnce(
      df.select((blockCols.map(col) :+ col(idCol) :+
        Similarity.minHashSig(canon, k, n).as("sig") :+
        Similarity.shingleHashes(canon, n).as("sh")): _*)
        .repartition(Par.spread(df.sparkSession), col(idCol)))
    val banded = sigd.select((blockCols.map(col) :+ col(idCol) :+
      explode(bandKeys(col("sig"), b, rowsPerBand)).as("bk")): _*)
      .select((blockCols.map(col) :+ col(idCol) :+ col("bk.band") :+ col("bk.bkey")): _*)
    // the bucket join carries ids only — shingle sets join back once per
    // deduped pair, not once per colliding band
    val joinKeys = blockCols ++ Seq("band", "bkey")
    val lhs = banded.select((joinKeys.map(col) :+ col(idCol).as("id1")): _*)
    val rhs = banded.select((joinKeys.map(col) :+ col(idCol).as("id2")): _*)
    // spread the exact-Jaccard verify: its merge-scan cost is per-PAIR,
    // so the candidate table must not sit in one coalesced partition
    val cands = lhs.join(rhs, joinKeys)
      .filter(col("id1") < col("id2"))
      .select("id1", "id2")
      .distinct()
      .repartition(Par.spread(df.sparkSession), col("id1"), col("id2"))
    val sh1 = sigd.select(col(idCol).as("id1"), col("sh").as("sh1"))
    val sh2 = sigd.select(col(idCol).as("id2"), col("sh").as("sh2"))
    cands.join(sh1, "id1").join(sh2, "id2")
      .select(col("id1"), col("id2"),
        round(jaccardSorted(col("sh1"), col("sh2")), 4).as("jac"))
      .filter(col("jac") >= threshold)
  }

  /** (band, bucket-hash) LSH keys over a MinHash signature. */
  private def bandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64(slice(sig, b * rowsPerBand + 1, rowsPerBand)).as("bkey"))
    }: _*)

  /** SimHash near-dup detection: 64-bit word simhash, bucketed by its
    * eight 8-bit chunks (pigeonhole: hamming <= 7 guarantees at least one
    * chunk collides), verified by exact hamming distance.
    */
  def simHashPairs(
      df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 7): DataFrame = {
    // materialized once at explicit width: the simhash kernel is
    // per-row-heavy and both join branches consume the signatures —
    // uncheckpointed they would each recompute it, single-task on a
    // single-split input (same shape as ngramJaccardPairs)
    val sigd = materializeOnce(df.select(col(idCol),
      Similarity.simHash64(Normalize.canonicalText(col(textCol))).as("sh64"))
      .repartition(Par.spread(df.sparkSession), col(idCol)))
    val chunked = sigd.select(
      col(idCol), col("sh64"),
      explode(array((0 until 8).map { c =>
        struct(lit(c).as("chunk"),
          shiftright(col("sh64"), c * 8).bitwiseAND(lit(255L)).as("ckey"))
      }: _*)).as("ck"))
      .select(col(idCol), col("sh64"), col("ck.chunk"), col("ck.ckey"))
    val lhs = chunked.select(col("chunk"), col("ckey"), col(idCol).as("id1"), col("sh64").as("h1"))
    val rhs = chunked.select(col("chunk"), col("ckey"), col(idCol).as("id2"), col("sh64").as("h2"))
    lhs.join(rhs, Seq("chunk", "ckey"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        bit_count(col("h1").bitwiseXOR(col("h2"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .groupBy("id1", "id2").agg(min("hamming").as("hamming"))
  }

  /** Deletion-neighborhood (SymSpell-style) blocking for edit-distance-1
    * pairs: every string emits itself plus each single-char deletion as a
    * key; any two strings with levenshtein <= 1 share at least one key
    * (equal -> identity key; substitution at p -> both-deleted-at-p key;
    * insert/delete -> the longer side's deletion key equals the shorter
    * string). Exact recall, and the candidate set is only the true
    * near-pairs — no quadratic in-block Levenshtein scan.
    */
  def lev1Pairs(
      df: DataFrame, idCol: String, strCol: String,
      blockCols: Seq[String]): DataFrame = {
    val nm = col(strCol)
    val delKeys = transform(sequence(lit(1), length(nm)), i =>
      concat(nm.substr(lit(1), i - 1), nm.substr(i + 1, length(nm))))
    val keyed = df.select(
      (blockCols.map(col) :+ col(idCol) :+ col(strCol) :+
        explode(concat(array(nm), delKeys)).as("dk")): _*)
    val lhs = keyed.select((blockCols.map(col) :+ col("dk") :+
      col(idCol).as("id1") :+ col(strCol).as("s1")): _*)
    val rhs = keyed.select((blockCols.map(col) :+ col("dk") :+
      col(idCol).as("id2") :+ col(strCol).as("s2")): _*)
    lhs.join(rhs, blockCols :+ "dk")
      .filter(col("id1") < col("id2"))
      .select("id1", "id2", "s1", "s2")
      .distinct()
      // spread the per-pair Levenshtein verify: AQE coalesces the distinct
      // exchange by bytes, which would serialize the edit-distance scan
      .repartition(Par.spread(df.sparkSession), col("id1"), col("id2"))
      .filter(levenshtein(col("s1"), col("s2")) <= 1)
      .select("id1", "id2")
  }

  /** EXACT embedding near-dup (cosine >= threshold, all pairs compared):
    * triangle-tiled self-join. Each id hashes to one of `tiles` groups; a
    * pair (a, b) is compared in exactly the tile (min(g_a, g_b),
    * max(g_a, g_b)), so the join is a plain equi-join on the tile id — no
    * CartesianProduct in the plan, and the tiles*(tiles+1)/2 tasks spread
    * the O(n^2) comparisons evenly across the cluster (replication factor
    * ~tiles/2 per side; pick tiles ~ sqrt(n^2 / perTaskBudget)).
    *
    * Exactness is the point: a cosine threshold sitting in the random-pair
    * bulk (like 0.4 on unit-ish 64-dim vectors) admits NO sub-quadratic
    * exact algorithm — every LSH family has nonzero miss probability on
    * borderline pairs. When approximate recall is acceptable, use
    * embeddingPairsLsh; embeddingPairs dispatches on corpus size.
    */
  def embeddingPairsExact(
      df: DataFrame, idCol: String, embCol: String,
      threshold: Double, tiles: Int = 16): DataFrame = {
    val base = df.select(
      col(idCol).as("id"),
      col(embCol).cast("array<double>").as("e"),
      pmod(xxhash64(col(idCol)), lit(tiles)).cast("int").as("g"))
    // explicit width on the probe side: the cosine scan is per-PAIR work,
    // and an AQE-coalesced tile join would run it in one or two tasks
    val lhs = base.select(col("id").as("id1"), col("e").as("e1"),
      explode(transform(sequence(col("g"), lit(tiles - 1)),
        j => col("g") * tiles + j)).as("tile"))
      .repartition(Par.spread(df.sparkSession), col("tile"))
    val rhs = base.select(col("id").as("id2"), col("e").as("e2"),
      explode(transform(sequence(lit(0), col("g")),
        i => i * tiles + col("g"))).as("tile"))
    lhs.join(rhs, "tile")
      .filter(col("id1") =!= col("id2"))
      .filter(Similarity.cosineSim(col("e1"), col("e2")) >= threshold)
      .select(least(col("id1"), col("id2")).as("id1"),
        greatest(col("id1"), col("id2")).as("id2"))
      .distinct() // diagonal tiles see both orientations of a pair
  }

  /** Hyperplane seed of the embedding near-dup bucket tables. */
  private val EmbeddingLshSeed = 0xE3BEDL

  /** APPROXIMATE embedding near-dup at scale: multi-table random-hyperplane
    * bucket blocking + exact-cosine verify within collided buckets. The
    * bucket join carries ids only; embeddings join back once per deduped
    * candidate. Recall for a pair at angle theta is
    * 1 - (1 - (1 - theta/pi)^bits)^tables — e.g. bits=4, tables=24 gives
    * ~0.98 at cosine 0.4 and ~1.0 for anything closer. Candidates are
    * bounded by bucket occupancy (mean n/2^bits per table), never n^2.
    */
  def embeddingPairsLsh(
      df: DataFrame, idCol: String, embCol: String, threshold: Double,
      bits: Int = 4, tables: Int = 24): DataFrame = {
    val keyed = Ann.rhpBuckets(df, idCol, idCol, embCol, bits, tables, EmbeddingLshSeed)
    val cands = keyed.select(col("bucket"), col(idCol).as("id1"))
      .join(keyed.select(col("bucket"), col(idCol).as("id2")), Seq("bucket"))
      .filter(col("id1") < col("id2"))
      .select("id1", "id2")
      .distinct()
      // spread the per-pair exact-cosine verify (see embeddingPairsExact)
      .repartition(Par.spread(df.sparkSession), col("id1"), col("id2"))
    val e1 = df.select(col(idCol).as("id1"), col(embCol).cast("array<double>").as("e1"))
    val e2 = df.select(col(idCol).as("id2"), col(embCol).cast("array<double>").as("e2"))
    cands.join(e1, "id1").join(e2, "id2")
      .filter(Similarity.cosineSim(col("e1"), col("e2")) >= threshold)
      .select("id1", "id2")
  }

  /** Embedding near-dup with an honest scale switch: corpora up to
    * `exactCap` rows get the exact tiled all-pairs answer; beyond that the
    * O(n^2) compute is unpayable and the LSH path (approximate, tunable
    * recall) takes over.
    */
  def embeddingPairs(
      df: DataFrame, idCol: String, embCol: String,
      threshold: Double, exactCap: Long = 100000L): DataFrame = {
    require(exactCap >= 0, s"exactCap must be non-negative: $exactCap")
    // probe at most exactCap+1 ids instead of a full count — the dispatch
    // decision never needs to materialize the whole input. Clamp the probe
    // to Int.MaxValue: a huge cap must not overflow to a negative limit
    // (or a small positive one that would mis-dispatch to the O(n^2) path).
    val probe =
      if (exactCap >= Int.MaxValue.toLong) Int.MaxValue else (exactCap + 1).toInt
    val small = df.select(col(idCol)).limit(probe).count() <= exactCap
    if (small) embeddingPairsExact(df, idCol, embCol, threshold)
    else embeddingPairsLsh(df, idCol, embCol, threshold)
  }

  /** Line-level boilerplate removal (the C4/RefinedWeb/CCNet pass):
    * drop every line whose exact content appears in at least `minDf`
    * DISTINCT documents corpus-wide (a line repeated within one page is
    * not boilerplate), keep the rest in original order, one row per doc
    * that retains at least one line. The hot-line table — distinct
    * lines over the document-frequency threshold: navigation chrome,
    * cookie banners, copyright footers — is tiny relative to the
    * corpus, so the removal is a left_anti join AQE turns into a
    * broadcast and the corpus is never shuffled by line content.
    * Stages: one posexplode (fan-out bounded by line count per doc),
    * one partial-agg shuffle over distinct (line, doc) for document
    * frequencies, one reassembly shuffle keyed by doc id. Line
    * identity is the exact string; at 100 TB key the frequency table
    * and anti join by xxhash64(line) to shrink the shuffle — the
    * shape is unchanged.
    */
  def lineDedup(
      df: DataFrame, idCol: String, textCol: String, minDf: Int): DataFrame = {
    require(minDf >= 2, s"minDf < 2 would remove every line: $minDf")
    val lines = df.select(col(idCol),
      posexplode(split(coalesce(col(textCol), lit("")), "\n")).as(Seq("pos", "line")))
    val hot = lines.groupBy("line")
      .agg(countDistinct(col(idCol)).as("df"))
      .filter(col("df") >= minDf)
      .select("line")
    lines.join(hot, Seq("line"), "left_anti")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("line")))),
            x => x.getField("line")),
          "\n").as("clean_text"))
  }
}
