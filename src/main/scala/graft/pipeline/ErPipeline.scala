package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.{Normalize, Similarity}
import graft.operators.{Clustering, PrefixSum}
import graft.plans.StageStore

/** The end-to-end record-linkage pipeline (SURVEY.md par.7.1):
  *
  * ingest -> extract -> normalize -> signatures -> candidates -> scores ->
  * clusters
  *
  * `labeledPairMetrics` and `calibrate` evaluate the scored pairs against
  * labeled pairs; they are not pipeline stages.
  *
  * Spark-first redesign of the reference's step_1_encode_contacts +
  * step_2_run_search (idrt/algorithm/prepare_data.py:155-235,
  * run_search.py:539-599): the PyTorch encoder becomes a deterministic
  * char-trigram hashed embedding (M1), Annoy becomes random-hyperplane LSH
  * bucket joins (J6), the cross-attention classifier becomes calibrated
  * string-similarity features (M2), and — new vs the reference — matched
  * pairs are resolved to entities by distributed connected components.
  *
  * Scale design: every stage is a declarative DataFrame plan (filters and
  * projections reach the parquet scan); the only shuffles are (a) the
  * explode-by-blocking-key self-join, keyed by block, (b) the scoring
  * join back to records, keyed by url, and (c) the CC rounds. Hot blocks
  * are bounded by sorted-neighborhood pairing so no key ever goes
  * quadratic, and ranked by a distributed prefix sum so no task ever
  * holds a whole hot key; AQE mops up residual partition skew.
  */
object ErPipeline {

  final case class Config(
      outRoot: String = "",
      pipelineVersion: String = "graft-er-v1",
      matchThreshold: Double = 0.45,
      embedDim: Int = 32,
      // Blocks above maxBlock switch from full pairing (quadratic in the
      // block) to sorted-neighborhood (linear: size * hotWindow). Low-
      // precision keys (name soundex) grow linearly with corpus size, so
      // the cap is what keeps total candidates O(n); high-precision keys
      // (email/phone) stay far below it.
      maxBlock: Int = 48,
      hotWindow: Int = 6,
      // 16-bit buckets keep mean occupancy ~n/65k per table; at larger n
      // raise bits ~ log2(n/4) so in-bucket pairing stays linear in n
      lshBits: Int = 16,
      lshTables: Int = 2,
      useLsh: Boolean = true,
      // The reference's n_closest cap (run_search.py:148-150): bound each
      // record's candidate fan-out to its strongest maxCandidatesPerRecord
      // pairs (most shared block keys first, url tiebreak). 0 = uncapped.
      maxCandidatesPerRecord: Int = 0,
      // The reference's per-run batch cap (prepare_data.py:42,63-65):
      // incremental runs process at most batchLimit stale rows,
      // oldest-first; the rest stay stale for the next run. 0 = uncapped.
      batchLimit: Int = 0)

  // -------------------------------------------------------------------
  // stage 1: extract — html binary -> canonical text + contact fields
  // -------------------------------------------------------------------

  /** The byte-identical extraction (north rule): strip tags, collapse
    * whitespace, trim. Pure Catalyst (regexp_replace), mirrored exactly by
    * WebPageGen.extractTextJvm; tests pin the invariant per url.
    */
  def extractText(html: Column): Column =
    trim(regexp_replace(regexp_replace(decode(html, "UTF-8"), "<[^>]*>", " "), "\\s+", " "))

  private def spanField(htmlStr: Column, cls: String): Column =
    regexp_extract(htmlStr, s"""<span class="$cls">([^<]*)</span>""", 1)

  /** pages(url, warc_ts, html, text, lang) ->
    * + extracted_text (must equal text byte-for-byte)
    * + first/last/email/phone/state/zip parsed from the markup.
    */
  def extract(pages: DataFrame): DataFrame = {
    val h = decode(col("html"), "UTF-8")
    val h1 = regexp_extract(h, "<h1>([^<]*)</h1>", 1)
    pages.select(
      col("url"), col("warc_ts"), col("lang"), col("text"),
      extractText(col("html")).as("extracted_text"),
      substring_index(h1, " ", 1).as("first_name"),
      substring_index(h1, " ", -1).as("last_name"),
      spanField(h, "email").as("email"),
      spanField(h, "phone").as("phone"),
      spanField(h, "state").as("state"),
      spanField(h, "zip").as("zip"))
  }

  // -------------------------------------------------------------------
  // stage 2: normalize — reference par.1.6 semantics per field + validity
  // -------------------------------------------------------------------

  def normalize(extracted: DataFrame): DataFrame = {
    val firstN = Seq(col("first_name"))
    val lastN = Seq(col("last_name"))
    extracted.select(
      col("url"), col("warc_ts"), col("lang"), col("text"),
      Normalize.normalizeField(firstN ++ lastN, 50).as("name_norm"),
      Normalize.normalizeField(lastN ++ firstN, 50).as("name_norm_rev"),
      Normalize.normalizeField(Seq(col("first_name")), 25).as("first_norm"),
      Normalize.normalizeField(Seq(col("last_name")), 25).as("last_norm"),
      Normalize.normalizeField(Seq(col("email")), 35).as("email_norm"),
      Normalize.normalizePhone(col("phone")).as("phone_norm"),
      Normalize.normalizeField(Seq(col("state")), 2).as("state_norm"),
      Normalize.normalizeField(Seq(col("zip")), 5).as("zip_norm"),
      Normalize.isValidRow(Seq(col("first_name"), col("last_name"), col("email"),
        col("phone"), col("state"), col("zip"))).as("valid"),
      Normalize.tokenize(Normalize.normalizeField(firstN ++ lastN, 50), 50).as("name_tokens"),
      Normalize.nonPadLength(Normalize.normalizeField(firstN ++ lastN, 50)).as("name_len"))
  }

  // -------------------------------------------------------------------
  // stage 3: signatures — blocking keys + embedding (M1 replacement)
  // -------------------------------------------------------------------

  /** Swap-invariant canonical name: sorted distinct words. */
  private def nameSorted: Column =
    array_join(array_sort(split(col("name_norm"), " ")), " ")

  def signatures(normalized: DataFrame, cfg: Config = Config()): DataFrame = {
    val embedInput = concat_ws("|", nameSorted, col("email_norm"), col("phone_norm"))
    val emb = Similarity.ngramEmbed(embedInput, cfg.embedDim)
    val soundexKey = concat(lit("n:"),
      array_join(array_sort(array(soundex(col("first_norm")), soundex(col("last_norm")))), "|"),
      lit(":"), col("lang"))
    val exactKeys = array(
      when(length(col("email_norm")) > 0, concat(lit("e:"), col("email_norm"))),
      when(length(col("phone_norm")) > 0, concat(lit("p:"), col("phone_norm"))),
      when(length(col("name_norm")) > 0, soundexKey))
    // Embedding-LSH is the fallback blocker for records that lack strong
    // keys (no email, no phone): exactly the population exact blocking
    // can't reach. Records with strong keys skip it — their LSH buckets
    // would only add redundant candidates that grow with corpus size.
    val weak = length(col("email_norm")) === 0 && length(col("phone_norm")) === 0
    val lshKeys: Seq[Column] = if (cfg.useLsh) {
      (0 until cfg.lshTables).map { t =>
        when(weak, concat(lit(s"h$t:"),
          Similarity.rhpKey(col("embedding"), cfg.lshBits, 0x5EED0000L + t).cast("string")))
      }
    } else Seq.empty
    val allKeys =
      if (lshKeys.isEmpty) exactKeys
      else concat(exactKeys, array(lshKeys: _*))
    normalized
      .withColumn("embedding", emb)
      .withColumn("block_keys", filter(allKeys, k => k.isNotNull))
  }

  // -------------------------------------------------------------------
  // stage 4: candidates — per-key self-join, hot-block bounding (J6)
  // -------------------------------------------------------------------

  /** Emit candidate pairs (url1 < url2, F16 canonicalization, G3 corrected
    * self-handling). Blocks up to cfg.maxBlock pair fully; larger (hot)
    * blocks fall back to sorted-neighborhood pairing (each member vs the
    * next cfg.hotWindow members in url order, found by a (block, rank)
    * equi join) so no key is ever quadratic — the salting/capping
    * strategy of SURVEY.md par.4.
    */
  def candidates(signatures: DataFrame, cfg: Config = Config()): DataFrame =
    candidatesScoped(signatures, None, cfg)

  /** Exploded (block key, url) rows entering candidate generation,
    * optionally restricted to a set of touched block keys (the incremental
    * path). The semi join filters by KEY, not by record: every member of a
    * touched block stays, so in-block sizing/ranking see the full block
    * and emit exactly what a full run would emit for those blocks.
    */
  private[graft] def keyedBlocks(
      signatures: DataFrame, touchedBlocks: Option[DataFrame]): DataFrame = {
    val all = signatures.select(explode(col("block_keys")).as("bk"), col("url"))
    touchedBlocks match {
      // bk-keyed shuffled semi join (the touched set is O(stale x keys) —
      // too big to assume broadcast at production scale; AQE broadcasts
      // it at runtime when it is small)
      case Some(t) => all.join(t.select(col("bk")), Seq("bk"), "left_semi")
      case None => all
    }
  }

  private[graft] def candidatesScoped(
      signatures: DataFrame, touchedBlocks: Option[DataFrame],
      cfg: Config): DataFrame = {
    // ONE explicit bk-keyed exchange feeds every consumer below (hot-key
    // sizing agg, cold collect_list agg, hot rank) — each would
    // otherwise plan its own exchange, and AQE would coalesce them by
    // MAP-side bytes even though the cold path explodes ~C(block,2)
    // pairs downstream (measured round 6: candidates was 24.7 s of the
    // 180k-page pipeline with the explosion running in a handful of
    // coalesced tasks). Explicit width = scheduler width (never a local
    // constant); per-key skew is unchanged vs the implicit exchanges —
    // cold keys are <= maxBlock rows and hot keys already flow through
    // the ranked path built for them.
    val keyed = keyedBlocks(signatures, touchedBlocks)
      .repartition(graft.core.Par.spread(signatures.sparkSession), col("bk"))
    // Two-phase block sizing that satisfies BOTH measured lessons:
    //  - r3: joining a full per-key size table back onto `keyed` doubles
    //    the candidate-stage shuffle (email/phone keys are near-unique,
    //    so the size table is ~as big as `keyed` itself) and re-evaluates
    //    the signature expressions per branch — measured 2x stage cost;
    //  - r4: a count over Window.partitionBy(bk) funnels every row of a
    //    hot key into ONE task — a straggler at 10^8-row blocks.
    // So: partial-aggregate (map-side combine) only the HOT keys — the
    // handful above maxBlock (low-precision soundex/LSH keys; the
    // near-unique keys never qualify) — and route `keyed` through
    // anti/semi joins against that SMALL table, which AQE executes as
    // broadcast joins at any realistic hot-key population. The exploded
    // key table is never re-shuffled for sizing, and no window ever
    // counts a whole key in one task.
    val hotKeys = keyed.groupBy("bk").agg(count(lit(1)).as("bk_n"))
      .filter(col("bk_n") > cfg.maxBlock).select("bk")

    // cold blocks (<= maxBlock members): gather the block into one bounded
    // array and emit all C(n,2) pairs locally — no self-join, no second
    // shuffle. The bound is what makes collect_list safe.
    val cold = keyed.join(hotKeys, Seq("bk"), "left_anti")
      .groupBy("bk").agg(array_sort(collect_list("url")).as("us"))
      .filter(size(col("us")) >= 2)
    val coldPairs = cold.select(
      col("bk").as("block_key"),
      explode(flatten(transform(
        sequence(lit(1), size(col("us")) - 1),
        i => transform(
          slice(col("us"), i + 1, size(col("us")) - i),
          u2 => struct(element_at(col("us"), i).as("url1"), u2.as("url2")))))).as("p"))
      .select(col("block_key"), col("p.url1"), col("p.url2"))

    // hot blocks: sorted-neighborhood — each member pairs with the next
    // hotWindow members in url order; cost is linear in block size. The
    // rank is the distributed prefix sum, so no task ever holds a whole
    // hot key.
    val ranked = rankWithinBlocks(
      keyed.join(hotKeys, Seq("bk"), "left_semi")) // small side -> broadcast
    val hotPairs = probeNeighbors(
      ranked.select(col("bk"), col("url").as("url2"), col("rn")),
      ranked.select(col("bk"), col("url").as("url1"),
        (col("rn") + 1).as("lo"), (col("rn") + cfg.hotWindow).as("hi")))
      .withColumnRenamed("bk", "block_key")

    // url1-keyed explicit exchange BEFORE the pair dedup: hash clustering
    // on url1 alone satisfies the (url1, url2) grouping requirement (equal
    // pairs share url1), so the aggregate plans no second exchange — and
    // the output partitioning is exactly what scorePairs' first feature
    // join needs, so the scored path re-shuffles the pair table once
    // less. Skew bound: a record's pair fan-out is bounded by its block
    // memberships (cold <= maxBlock - 1 per key, hot <= 2*hotWindow per
    // key), never by corpus size.
    val deduped = coldPairs.unionByName(hotPairs)
      .repartition(graft.core.Par.spread(signatures.sparkSession), col("url1"))
      .groupBy("url1", "url2")
      // A8 dedup, deterministic min; the shared-key count ranks pair
      // strength for the per-record cap below
      .agg(min("block_key").as("block_key"), count(lit(1)).as("_n_keys"))
    capPerRecord(deduped, cfg.maxCandidatesPerRecord, bothSides = true)
  }

  /** Global 1-based rank of `url` within each `bk` — the weight-1
    * specialization of [[PrefixSum.withinKeys]] (url is unique per key, so
    * the running count IS the rank). Returns (input columns, rn, _pid);
    * _pid is kept so callers/tests can observe the spread.
    */
  private[graft] def rankWithinBlocks(rows: DataFrame): DataFrame =
    PrefixSum.withinKeys(rows, Seq("bk"), Seq("url"), lit(1L), "rn")

  /** Sorted-neighborhood pairs for hot blocks: each probe row
    * (bk, url1, lo, hi) pairs with every index row (bk, url2, rn) whose
    * rank lies in [lo, hi] (an empty range pairs with nothing). The probe
    * is an equi join on (bk, rank): a hot key spreads across rank values,
    * so no join task ever holds a whole key — unlike a self-join on bk
    * with a rank-range condition, which tests every pair of a block's
    * rows in one task. Returns (bk, url1, url2).
    */
  private def probeNeighbors(index: DataFrame, probe: DataFrame): DataFrame =
    probe.filter(col("lo") <= col("hi"))
      .select(col("bk"), col("url1"), explode(sequence(col("lo"), col("hi"))).as("rn"))
      .join(index, Seq("bk", "rn"))
      .select(col("bk"), col("url1"), col("url2"))

  /** n_closest-style cap (I4/O4): keep each record's strongest pairs —
    * most shared blocking keys first, url tiebreak. With bothSides, the
    * bound holds for a record in EITHER pair slot (pairs are url1 < url2
    * canonicalized, so a record's fan-out splits across both); capping
    * url2 after url1 only removes rows, so the url1 bound still holds.
    */
  private def capPerRecord(deduped: DataFrame, cap: Int, bothSides: Boolean): DataFrame = {
    if (cap <= 0) return deduped.drop("_n_keys")
    def capSide(df: DataFrame, side: String, other: String) = {
      val w = Window.partitionBy(side).orderBy(col("_n_keys").desc, col(other))
      df.withColumn("_rk", row_number().over(w))
        .filter(col("_rk") <= cap)
        .drop("_rk")
    }
    val one = capSide(deduped, "url1", "url2")
    (if (bothSides) capSide(one, "url2", "url1") else one).drop("_n_keys")
  }

  /** G1 Pooled mode: match a source pool against a search pool
    * (reference: run_search.py:34-47; pair order is source-first, NOT
    * canonicalized — run_search.py:183-193 keeps slots). Cold blocks
    * (search side <= cfg.maxBlock) pair fully bipartite; in a hot block
    * each source record pairs with the cfg.hotWindow search members on
    * either side of its own url position. Unpooled /
    * PooledReflective self-matching is `candidates` above. The same
    * n_closest-style cap applies per SOURCE record (the pool the reference
    * caps its ANN lookups for).
    */
  def candidatesPooled(sourceSigs: DataFrame, searchSigs: DataFrame,
      cfg: Config = Config()): DataFrame = {
    // Materialized once (eager localCheckpoint): several plan branches
    // consume each exploded table (hot sizing, cold anti-join, hot semi
    // joins); unmaterialized, every branch would re-evaluate the caller's
    // signature expressions over the whole pool (the same per-branch trap
    // the unpooled path avoids by caching sigs in run()). localCheckpoint
    // instead of cache(): the blocks are released by the ContextCleaner
    // when the returned plan is dropped — a long-lived driver running
    // many pooled matches never accumulates pinned cache entries
    // (ADVICE r5: the cache() here was never unpersisted).
    val src = sourceSigs.select(explode(col("block_keys")).as("bk"), col("url").as("url1"))
      .localCheckpoint()
    val sea = searchSigs.select(explode(col("block_keys")).as("bk"), col("url").as("url2"))
      .localCheckpoint()
    // Hot-block bound, mirroring the unpooled path: one hot soundex key
    // must never go |src-block| x |search-block|. Only the HOT search
    // keys (count > maxBlock — the small low-precision population) are
    // aggregated; both pools route through anti/semi joins against that
    // small table (AQE broadcasts it), so the exploded key tables are
    // never joined against a full-size count table (the r3 lesson).
    // Hot blocks switch from the full bipartite join to a neighborhood
    // probe — each source record pairs with the 2*hotWindow search
    // members nearest its own url position, so hot pair volume is
    // O(|src-block| x window) (the reference caps pooled ANN lookups with
    // n_closest BEFORE materializing candidates, run_search.py:148-150).
    val hotSea = sea.groupBy("bk").agg(count(lit(1)).as("sea_n"))
      .filter(col("sea_n") > cfg.maxBlock).select("bk")

    val coldPairs = src.join(hotSea, Seq("bk"), "left_anti")
      .join(sea.join(hotSea, Seq("bk"), "left_anti"), Seq("bk"))

    // merged url-ordered stream per hot block (search rows sort before a
    // source row with the same url): one distributed running sum gives
    // BOTH the search row's 1-based rank among search rows and the source
    // row's insertion position, so the probe is a plain (bk, rank) equi
    // join — no bipartite join on the hot key ever happens.
    val merged = sea.join(hotSea, Seq("bk"), "left_semi")
      .select(col("bk"), col("url2").as("u"), lit(0).as("side"))
      .unionByName(src.join(hotSea, Seq("bk"), "left_semi")
        .select(col("bk"), col("url1").as("u"), lit(1).as("side")))
    val ranked = PrefixSum.withinKeys(
      merged, Seq("bk"), Seq("u", "side"), lit(1L) - col("side"), "pos")
    val hotPairs = probeNeighbors(
      ranked.filter(col("side") === 0)
        .select(col("bk"), col("u").as("url2"), col("pos").as("rn")),
      ranked.filter(col("side") === 1)
        .select(col("bk"), col("u").as("url1"),
          greatest(lit(1L), col("pos") - cfg.hotWindow + 1).as("lo"),
          (col("pos") + cfg.hotWindow).as("hi")))

    val deduped = coldPairs.select(col("bk"), col("url1"), col("url2"))
      .unionByName(hotPairs)
      .filter(col("url1") =!= col("url2"))
      .groupBy("url1", "url2")
      .agg(min("bk").as("block_key"), count(lit(1)).as("_n_keys"))
    // pooled slots are asymmetric (url1 = source pool): cap per source
    // record only, matching the reference's pooled n_closest lookups
    capPerRecord(deduped, cfg.maxCandidatesPerRecord, bothSides = false)
  }

  // -------------------------------------------------------------------
  // stage 5: scores — feature-based pair classifier (M2 replacement)
  // -------------------------------------------------------------------

  /** The fields scoring reads off each record of a pair. */
  private val featureFields = Seq(
    "lang", "name_norm", "name_norm_rev", "email_norm", "phone_norm",
    "state_norm", "zip_norm", "embedding")

  /** The classifier score as a pure column expression over two records'
    * feature columns, given accessors for each side (so the same formula
    * serves both the join-shaped scorer and the block-local fused path).
    */
  private def scoreOf(a: String => Column, b: String => Column): Column = {
    val nonEmptyEq = (f: String) =>
      (length(a(f)) > 0 && a(f) === b(f)).cast("double")
    val nameJw = greatest(
      Similarity.jaroWinkler(a("name_norm"), b("name_norm")),
      Similarity.jaroWinkler(a("name_norm"), b("name_norm_rev")))
    val nameLev = greatest(
      Similarity.levenshteinSim(a("name_norm"), b("name_norm")),
      Similarity.levenshteinSim(a("name_norm"), b("name_norm_rev")))
    val cos = Similarity.cosineSim(a("embedding"), b("embedding"))
    round(
      lit(0.30) * nonEmptyEq("email_norm") +
        lit(0.30) * nonEmptyEq("phone_norm") +
        lit(0.15) * nameJw +
        lit(0.10) * nameLev +
        lit(0.05) * nonEmptyEq("state_norm") +
        lit(0.05) * nonEmptyEq("zip_norm") +
        lit(0.05) * greatest(cos, lit(0.0)),
      6)
  }

  def scorePairs(cands: DataFrame, signatures: DataFrame, cfg: Config = Config()): DataFrame = {
    val feat = signatures.select((Seq(col("url")) ++ featureFields.map(col)): _*)
    val lhs = feat.columns.foldLeft(feat)((d, c) => d.withColumnRenamed(c, c + "1"))
    val rhs = feat.columns.foldLeft(feat)((d, c) => d.withColumnRenamed(c, c + "2"))

    // two hash joins keyed by url — no broadcast (both sides are the full
    // record table at production scale). The pair side carries an
    // EXPLICIT width: the scorer (two Jaro-Winklers, two Levenshteins, a
    // cosine per pair) is per-PAIR compute fused into the join stages,
    // and AQE would coalesce these exchanges by map-side bytes down to a
    // fraction of the scheduler width (guide par.2.5; the same collapse
    // measured on the catalog pair queries).
    // no explicit url1 repartition here: candidates() already emits the
    // pair table hash-partitioned by url1 at the scheduler width, so this
    // join only shuffles the feature side (a caller passing arbitrary
    // pairs still gets a correct co-partitioning exchange from the
    // planner)
    val w = graft.core.Par.spread(cands.sparkSession)
    val withBoth = cands
      .join(lhs.withColumnRenamed("url1", "url1_"), col("url1") === col("url1_"))
      .drop("url1_")
      .repartition(w, col("url2"))
      .join(rhs.withColumnRenamed("url2", "url2_"), col("url2") === col("url2_"))
      .drop("url2_")

    withBoth.select(
      col("url1"), col("url2"), col("block_key"),
      col("lang1"), col("lang2"),
      scoreOf(f => col(f + "1"), f => col(f + "2")).as("score"))
      .withColumn("matches", col("score") >= cfg.matchThreshold)
      .withColumn("comparison_ts", current_timestamp())
      .withColumn("pipeline_version", lit(cfg.pipelineVersion))
  }


  /** Ad-hoc record for the pair probe (the reference's CLI match tool,
    * idrt/match.py:17-103: build two records, score them, report).
    */
  final case class ProbeRecord(
      firstName: String, lastName: String, email: String,
      phone: String, state: String, zip: String, lang: String = "en")

  /** Score one record pair through the exact production scorer — same
    * normalization, same features, same threshold — and return the single
    * scored row (url1/url2 are synthetic probe ids). Triage tool: "would
    * these two records match, and at what score?"
    */
  def matchProbe(spark: SparkSession, a: ProbeRecord, b: ProbeRecord,
      cfg: Config = Config()): DataFrame = {
    import spark.implicits._
    val ts = java.sql.Timestamp.valueOf("2000-01-01 00:00:00")
    def row(u: String, r: ProbeRecord) =
      (u, ts, r.lang, "", "", r.firstName, r.lastName, r.email, r.phone, r.state, r.zip)
    val extracted = Seq(row("probe://a", a), row("probe://b", b))
      .toDF("url", "warc_ts", "lang", "text", "extracted_text",
        "first_name", "last_name", "email", "phone", "state", "zip")
    val sigs = signatures(normalize(extracted), cfg)
    val pair = Seq(("probe://a", "probe://b", "probe")).toDF("url1", "url2", "block_key")
    scorePairs(pair, sigs, cfg)
  }

  // -------------------------------------------------------------------
  // stage 6: clusters — transitive closure (north rule, new vs reference)
  // -------------------------------------------------------------------

  def clusters(signatures: DataFrame, scored: DataFrame): DataFrame =
    Clustering.clusterAll(
      signatures.select("url"), "url",
      scored.filter(col("matches")), "url1", "url2")

  // -------------------------------------------------------------------
  // evaluation: pairwise P/R/F1 against labeled pairs (A6)
  // -------------------------------------------------------------------

  /** Appends precision, recall and f1 to a frame of tp/fp/fn counts. */
  private def withPrecisionRecallF1(counts: DataFrame): DataFrame =
    counts
      .withColumn("precision", col("tp") / (col("tp") + col("fp")))
      .withColumn("recall", col("tp") / (col("tp") + col("fn")))
      .withColumn("f1",
        lit(2.0) * col("precision") * col("recall") / (col("precision") + col("recall")))

  /** Pairwise P/R/F1 against reference-style labeled pairs (url1, url2,
    * label in {1,-1}) "at matched blocking keys": only labeled pairs that
    * blocking surfaced are decided; unseen duplicate pairs count as FN
    * (blocking misses must hurt recall, not silently vanish).
    */
  def labeledPairMetrics(scored: DataFrame, labeledPairs: DataFrame): DataFrame = {
    val joined = labeledPairs.join(
      scored.select(col("url1"), col("url2"), col("matches")),
      Seq("url1", "url2"), "left")
      .withColumn("pred", coalesce(col("matches"), lit(false)))
      .withColumn("is_dup", col("label") === 1)
    withPrecisionRecallF1(joined.agg(
      sum(when(col("pred") && col("is_dup"), 1L).otherwise(0L)).as("tp"),
      sum(when(col("pred") && !col("is_dup"), 1L).otherwise(0L)).as("fp"),
      sum(when(!col("pred") && col("is_dup"), 1L).otherwise(0L)).as("fn"),
      sum(when(col("matches").isNull && col("is_dup"), 1L).otherwise(0L)).as("dup_pairs_not_blocked"),
      count(lit(1)).as("n_pairs")))
  }

  /** Threshold calibration — replaces the reference's val_f1 model
    * selection (idrt/train.py:257-262): sweep thresholds over the scored
    * reference-style labeled pairs (url1, url2, label in {1,-1}), return
    * (threshold, f1) ordered best-first.
    */
  def calibrate(scored: DataFrame, labeledPairs: DataFrame, thresholds: Seq[Double]): DataFrame = {
    val labeled = labeledPairs
      .join(scored.select(col("url1"), col("url2"), col("score")), Seq("url1", "url2"), "left")
      .withColumn("score", coalesce(col("score"), lit(0.0))) // unblocked pair -> never matched
      .withColumn("is_dup", col("label") === 1)
    val th = thresholds.map(t => struct(lit(t).as("t"))).toArray
    val counts = labeled
      .select(col("score"), col("is_dup"), explode(array(th: _*)).as("th"))
      .select(col("th.t").as("threshold"), col("score"), col("is_dup"))
      .groupBy("threshold")
      .agg(
        sum(when(col("score") >= col("threshold") && col("is_dup"), 1L).otherwise(0L)).as("tp"),
        sum(when(col("score") >= col("threshold") && !col("is_dup"), 1L).otherwise(0L)).as("fp"),
        sum(when(col("score") < col("threshold") && col("is_dup"), 1L).otherwise(0L)).as("fn"))
    withPrecisionRecallF1(counts).orderBy(col("f1").desc, col("threshold"))
  }

  // -------------------------------------------------------------------
  // incremental semantics (I1/I2): stale-row selection via anti/left join
  // -------------------------------------------------------------------

  /** Rows of `input` that are new or updated vs `existing`
    * (reference: idrt/algorithm/prepare_data.py:67-77).
    */
  def staleRows(input: DataFrame, existing: DataFrame, key: String, ts: String): DataFrame =
    input.join(
      existing.select(col(key), col(ts).as("_prev_ts")), Seq(key), "left")
      .filter(col("_prev_ts").isNull || col(ts) > col("_prev_ts"))
      .drop("_prev_ts")

  final case class IncrementalStats(
      staleRowCount: Long, rescoredPairs: Long, reusedPairs: Long,
      /** match edges re-clustered / total current match edges; -1 when the
        * caller did not supply prior clusters (global recompute).
        */
      clusterEdgesReclustered: Long = -1L, clusterEdgesTotal: Long = -1L)

  /** Incremental transitive clustering: a component's assignment is
    * invariant unless one of its nodes gained, lost, or re-scored an edge
    * — reused match edges are intra-cluster by construction (they WERE
    * edges of the prior CC), and every re-scored/dropped edge has both
    * endpoints in `affectedNodes`, so no current edge can connect an
    * affected cluster to an unaffected one. Prior assignments of clusters
    * holding no affected node are reused verbatim (their min-id roots are
    * untouched); only members of affected clusters plus brand-new nodes
    * re-converge, over only the edges that touch them. Returns
    * (clusters, edges re-clustered, total current edges).
    */
  private[graft] def incrementalClusters(
      mergedSigs: DataFrame,
      mergedScored: DataFrame,
      priorClusters: DataFrame,
      affectedNodes: DataFrame): (DataFrame, Long, Long) = {
    val affected = affectedNodes.select(col("url")).distinct()
    val affectedClusters = priorClusters
      .join(affected, Seq("url"), "left_semi")
      .select(col("cluster_id")).distinct()
    // re-select after the join: a usingColumns join moves its key to the
    // front, and positional consumers expect (url, cluster_id)
    val reusedAssign = priorClusters
      .join(affectedClusters, Seq("cluster_id"), "left_anti")
      .select(col("url"), col("cluster_id"))
    val reVertices = mergedSigs.select(col("url"))
      .join(reusedAssign.select(col("url")), Seq("url"), "left_anti")
      .cache()
    val edges = mergedScored.filter(col("matches")).select("url1", "url2")
    // both-endpoint semi joins + distinct for robustness, though the
    // invariant above means either side alone would select the same set
    val touchingEdges = edges
      .join(reVertices.withColumnRenamed("url", "url1"), Seq("url1"), "left_semi")
      .unionByName(edges
        .join(reVertices.withColumnRenamed("url", "url2"), Seq("url2"), "left_semi"))
      .distinct()
      .cache()
    val re = Clustering.clusterAll(reVertices, "url", touchingEdges, "url1", "url2")
    val nTouching = touchingEdges.count()
    val nEdges = edges.count()
    // the CC inside clusterAll has already consumed both caches eagerly
    // (its edge set is localCheckpointed on entry); release them so
    // repeated incremental runs in a long-lived driver don't accumulate
    // cached blocks (ADVICE r5). The returned plan can still recompute
    // reVertices lazily from the (cached) merged signatures — correct,
    // just no longer pinned.
    touchingEdges.unpersist()
    reVertices.unpersist()
    (reusedAssign.unionByName(re), nTouching, nEdges)
  }

  /** Incremental run (I1 + I2 end-to-end): given the previous run's
    * signatures + scored pairs and a new snapshot of the input, only
    * new/updated urls are re-extracted/normalized/signed. Candidate pairs
    * are regenerated only inside blocks a stale record touched (O(stale),
    * see the touched-blocks derivation in the body), then
    * a pair is REUSED verbatim when it was scored before and neither
    * endpoint is stale (scores are pure functions of the two records);
    * every other current candidate is scored. This covers pairs between
    * two non-stale records that only became candidates because a stale
    * record shifted block membership or hot-block ranks — they are new in
    * the candidate set, so they get scored. Previously scored pairs that
    * dropped out of the candidate set persist (the reference keeps its
    * comparisons table across runs, run_search.py:416-434). With
    * `priorClusters` supplied, clustering is incremental too (see
    * incrementalClusters); without it the merged pair table re-clusters
    * globally.
    *
    * With cfg.batchLimit > 0, at most batchLimit stale rows are processed,
    * oldest warc_ts first (url tiebreak) — the reference's per-run cap
    * (prepare_data.py:42,63-65); the remainder stays stale for later runs.
    */
  def runIncremental(
      spark: SparkSession,
      pages: DataFrame,
      priorSignatures: DataFrame,
      priorScored: DataFrame,
      cfg: Config,
      priorClusters: Option[DataFrame] = None): (Result, IncrementalStats) = {
    val prior = priorSignatures.cache()
    val staleAll = staleRows(pages, prior.select(col("url"), col("warc_ts")), "url", "warc_ts")
    val stale =
      (if (cfg.batchLimit > 0) staleAll.orderBy(col("warc_ts"), col("url")).limit(cfg.batchLimit)
       else staleAll).cache()
    val nStale = stale.count()

    val staleSigs = signatures(normalize(extract(stale)), cfg)
    val mergedSigs = prior
      .join(stale.select("url"), Seq("url"), "left_anti")
      .unionByName(staleSigs)
      .cache()

    val staleUrls = stale.select(col("url"))
    // O(stale) candidate generation, not O(corpus): only blocks TOUCHED by
    // a stale record can produce pairs that need (re)scoring — a block no
    // stale record entered or left has identical membership, hence
    // identical sizing, ranking and emitted pairs as the prior run, and
    // all of those pairs are already in the reused set below. Touched =
    // keys of the stale records' NEW signatures (blocks gaining a member)
    // UNION keys of their PRIOR signatures (blocks losing one — departure
    // shifts the survivors' neighborhood ranks too). At a 0.1% daily
    // delta this scans ~0.1% of the exploded key table instead of all of
    // it (the reference's core value proposition, README.md:104,122).
    // The per-record cap ranks pairs GLOBALLY by shared-key counts, so a
    // capped config falls back to the full recompute for exact parity.
    val allCands =
      if (cfg.maxCandidatesPerRecord == 0) {
        val touched = prior
          .join(staleUrls, Seq("url"), "left_semi")
          .select(explode(col("block_keys")).as("bk"))
          .unionByName(staleSigs.select(explode(col("block_keys")).as("bk")))
          .distinct()
        candidatesScoped(mergedSigs, Some(touched), cfg)
      } else candidates(mergedSigs, cfg)
    // reusable: previously scored AND both endpoints untouched
    val reused = priorScored
      .join(staleUrls.withColumnRenamed("url", "url1"), Seq("url1"), "left_anti")
      .join(staleUrls.withColumnRenamed("url", "url2"), Seq("url2"), "left_anti")
      .cache()
    // to score: every current candidate not covered by a reusable score.
    // Cached: rescoring, the affected-node set (twice), and
    // Result.candidates all consume it — uncached, each would re-run the
    // whole scoped candidate DAG.
    val toScore = allCands
      .join(reused.select("url1", "url2"), Seq("url1", "url2"), "left_anti")
      .cache()
    val rescored = scorePairs(toScore, mergedSigs, cfg)

    val mergedScored = reused
      .select(rescored.columns.map(col): _*)
      .unionByName(rescored)
      .cache()

    val (clustered, nReEdges, nEdges) = priorClusters match {
      case Some(pc) =>
        // affected = stale records + endpoints of every re-scored pair +
        // partners of prior match edges a stale record took away (those
        // components may SPLIT, so the surviving partner must re-cluster)
        val droppedPartners = priorScored.filter(col("matches"))
          .join(staleUrls.withColumnRenamed("url", "url1"), Seq("url1"), "left_semi")
          .select(col("url2").as("url"))
          .unionByName(priorScored.filter(col("matches"))
            .join(staleUrls.withColumnRenamed("url", "url2"), Seq("url2"), "left_semi")
            .select(col("url1").as("url")))
        val affectedNodes = staleUrls
          .unionByName(toScore.select(col("url1").as("url")))
          .unionByName(toScore.select(col("url2").as("url")))
          .unionByName(droppedPartners)
        incrementalClusters(mergedSigs, mergedScored, pc, affectedNodes)
      case None =>
        (clusters(mergedSigs, mergedScored), -1L, -1L)
    }
    val stats = IncrementalStats(nStale, rescored.count(), reused.count(),
      nReEdges, nEdges)
    // every consumer of these intermediates has materialized by now (the
    // stats counts and the clustering pass populated the downstream
    // caches that are returned in Result); release them so repeated
    // incremental runs don't accumulate cached blocks (ADVICE r5).
    // mergedSigs / toScore / mergedScored stay cached — they ARE the
    // returned Result.
    prior.unpersist()
    stale.unpersist()
    reused.unpersist()
    (Result(mergedSigs, mergedSigs, toScore, mergedScored, clustered), stats)
  }

  // -------------------------------------------------------------------
  // orchestration with checkpoint/resume
  // -------------------------------------------------------------------

  final case class Result(
      normalized: DataFrame,
      signatures: DataFrame,
      candidates: DataFrame,
      scored: DataFrame,
      clusters: DataFrame)

  /** Full run. With cfg.outRoot set, every stage goes through StageStore:
    * a re-run with unchanged inputs/params reads stages back instead of
    * recomputing (resume-from-checkpoint, north rule).
    *
    * Stage fingerprints CHAIN: each stage's stored fingerprint folds in
    * every upstream stage's name and params, so changing an upstream knob
    * (e.g. lshBits) invalidates all downstream manifests too — no stale
    * scores/clusters served against fresh signatures.
    */
  def run(spark: SparkSession, pages: DataFrame, cfg: Config): Result = {
    var chain =
      if (cfg.outRoot.isEmpty) ""
      else StageStore.fingerprint(pages.select("url", "warc_ts"))
    def stage(name: String, params: Map[String, String] = Map.empty)(df: => DataFrame): DataFrame = {
      val out =
        if (cfg.outRoot.isEmpty) df
        else StageStore.runStage(spark, cfg.outRoot, name, cfg.pipelineVersion, chain, params)(df)
      chain = chain + ">" + name +
        params.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString("{", ",", "}")
      out
    }

    val norm = stage("normalize")(normalize(extract(pages)))
    // every cfg field signatures() reads is fingerprinted (useLsh gates
    // whether block_keys carry LSH keys at all — omitting it would serve
    // stale cached signatures after a toggle)
    val sigsStage = stage("signatures", Map("embedDim" -> cfg.embedDim.toString,
      "lshBits" -> cfg.lshBits.toString, "lshTables" -> cfg.lshTables.toString,
      "useLsh" -> cfg.useLsh.toString)) {
      signatures(norm, cfg)
    }
    // candidates (sizing agg + keyed join) and scorePairs (two feature
    // joins) each consume signatures from several plan branches; with a
    // stage store the branches re-scan cheap parquet, but in ephemeral
    // mode they would re-evaluate the embedding expressions per branch —
    // cache instead (LRU-evicted, so repeated ephemeral runs stay safe)
    val sigs = if (cfg.outRoot.isEmpty) sigsStage.cache() else sigsStage
    val cands = stage("candidates", Map("maxBlock" -> cfg.maxBlock.toString,
      "hotWindow" -> cfg.hotWindow.toString,
      "maxCandidatesPerRecord" -> cfg.maxCandidatesPerRecord.toString))(candidates(sigs, cfg))
    val scored = stage("scores", Map("threshold" -> cfg.matchThreshold.toString)) {
      scorePairs(cands, sigs, cfg)
    }
    val clustered = stage("clusters")(clusters(sigs, scored))
    Result(norm, sigs, cands, scored, clustered)
  }
}
