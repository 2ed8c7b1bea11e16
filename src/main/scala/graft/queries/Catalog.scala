package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.core.Par
import graft.functions.{Normalize, Similarity, TextAnalysis}
import graft.operators.{Ann, Dedup}

/** The driver-facing query catalog: every implemented operator from
  * SURVEY.md par.2 is exposed as a named query over the /root/testdata
  * tables, with a DuckDB-equivalent oracle SQL where the semantics are
  * ANSI-SQL-expressible. Column names/aliases are kept identical between
  * the Spark plan and the oracle (the driver sorts columns by name and
  * hashes values). All floating outputs are rounded to tame engine-order
  * float drift.
  */
object Catalog {

  type Q = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** App-scoped staged artifacts (bucketed tables, ANN index roots) carry
    * the application id in their paths so concurrent drivers never race —
    * but a fresh app means fresh names, so without cleanup every run
    * would permanently leak its staging into the warehouse dir and
    * java.io.tmpdir. One JVM shutdown hook sweeps everything this app
    * registered (catalog entries are in-memory and die with the JVM
    * anyway).
    */
  private val cleanupPaths = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private lazy val cleanupHookInstalled: Boolean = {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      cleanupPaths.forEach(p =>
        try graft.core.Fs.deleteRecursively(java.nio.file.Paths.get(p))
        catch { case _: Throwable => () })
    }, "graft-staged-artifact-sweep"))
    true
  }
  private def registerCleanup(path: String): Unit = {
    require(cleanupHookInstalled)
    cleanupPaths.add(path)
  }

  /** The shutdown hook cannot fire on SIGKILL/OOM-kill, and a dead run's
    * app-scoped names never match a later application id — so each
    * registration also garbage-collects SIBLING artifacts of the same
    * family (`prefix`) that are older than `StaleArtifactMs`. The age
    * bound keeps this safe against concurrent live drivers: their
    * artifacts were written minutes ago; only a crashed run's leftovers
    * age past the bound.
    */
  private val StaleArtifactMs = 6L * 3600 * 1000
  private[graft] def sweepStaleSiblings(parent: java.nio.file.Path, prefix: String): Unit =
    try {
      val cutoff = System.currentTimeMillis() - StaleArtifactMs
      val stream = java.nio.file.Files.list(parent)
      try stream.forEach { p =>
        val name = p.getFileName.toString
        if (name.startsWith(prefix) &&
            java.nio.file.Files.getLastModifiedTime(p).toMillis < cutoff)
          try graft.core.Fs.deleteRecursively(p)
          catch { case _: Throwable => () }
      } finally stream.close()
    } catch { case _: java.io.IOException => () }

  /** Table scan for per-row-HEAVY projections (quality regexes, language
    * markers, redaction, simhash — all interpreted higher-order funcs or
    * multi-regex passes): when the source supplies fewer splits than the
    * scheduler width (the sf tables are ONE parquet split, so the whole
    * projection would run in one task — measured: text_quality spent
    * 1.28 of its 1.43 s in a single task), spread it explicitly. A
    * many-split production corpus is returned UNTOUCHED — the spread
    * must never become a full-corpus shuffle at scale; partition count,
    * not a local constant, makes the decision.
    */
  private def tWide(s: SparkSession, dir: String, name: String): DataFrame = {
    val df = t(s, dir, name)
    val target = Par.spread(s)
    if (df.rdd.getNumPartitions * 2 >= target) df else df.repartition(target)
  }

  // ---------------------------------------------------------------------
  // Helpers shared by the plans and their oracles
  // ---------------------------------------------------------------------

  /** Neighbors each record scores against in er_sorted_neighbors. */
  private val SnWindow = 4

  /** Plan of er_scores, reused by er_f1_metrics. */
  private def erScores(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"), col("c_name"))
    // only the probe side needs spreading (single-split parquet would
    // otherwise pair in one task); the build side gets broadcast, where a
    // repartition would be a wasted exchange
    val a = c.repartition(Par.spread(s), col("c_nationkey"), col("c_custkey"))
      .select(col("c_nationkey"), col("c_mktsegment"),
        col("c_custkey").as("k1"), col("c_name").as("n1"))
    val b = c.select(col("c_nationkey"), col("c_mktsegment"),
      col("c_custkey").as("k2"), col("c_name").as("n2"))
    a.join(b, Seq("c_nationkey", "c_mktsegment"))
      .filter(col("k1") < col("k2"))
      .select(col("k1"), col("k2"),
        round(Similarity.jaroWinkler(col("n1"), col("n2")), 4).as("jw"),
        levenshtein(col("n1"), col("n2")).as("lev"))
  }

  /** Documents plus planted near-duplicates (first 90% of words, id +
    * PlantOffset) — the corpus for MinHash/SimHash detection queries.
    * The offset (10^9) sits far above any doc_id the generator emits at
    * any scale factor, so planted ids can never collide with real ones.
    */
  private val PlantOffset = 1000000000L

  private def plantedDocs(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val w = split(col("text"), " ")
    val truncated = d.select(
      (col("doc_id") + PlantOffset).as("doc_id"), col("lang"), col("source"),
      array_join(slice(w, lit(1), greatest(lit(3), floor(size(w) * 0.9).cast("int"))), " ").as("text"))
    d.select("doc_id", "lang", "source", "text").unionByName(truncated)
  }

  /** Language quota table shared by the standalone mixture query and the
    * composed curation pipeline (and their oracle twins) — one edit
    * point, so the composition can never desynchronize from the
    * standalone query it claims to compose.
    */
  private val MixtureQuotas = Seq(
    ("en", "ff"), ("zh", "7f"), ("es", "7f"), ("de", "3f"), ("fr", "3f"))

  private def mixtureQuotasDf(s: SparkSession) = {
    import s.implicits._
    MixtureQuotas.toDF("lang", "cutoff")
  }

  private val MixtureQuotasSqlValues: String =
    MixtureQuotas.map { case (l, c) => s"('$l','$c')" }.mkString(",")

  /** 24-bit hex cutoff for the deterministic quality coin flip — shared
    * by text_quality_sample and the composed pipeline.
    */
  private def qualityCutoff(
      q: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    format_string("%06x", floor(q * lit(16777216.0)).cast("int"))

  /** SQL-dialect twin of qualityCutoff for the DuckDB oracles. */
  private def qualityCutoffSql(expr: String): String =
    s"printf('%06x', CAST(floor($expr * 16777216.0) AS INT))"

  /** (doc_id, n_hits) for every document with at least one eval-set
    * 8-gram overlap — the shared core of text_decontaminate and the
    * composed curation pipeline. See text_decontaminate for the planting
    * and scale rationale.
    */
  private def decontaminationHits(s: SparkSession, dir: String): DataFrame = {
    val marker = "benchmark heldout eval secret phrase alpha beta gamma"
    val planted = concat(
      Normalize.emptyIfNull(col("text")),
      when(col("doc_id") % 31 === 0, lit(" " + marker)).otherwise(lit("")))
    val base = tWide(s, dir, "documents")
      .select(col("doc_id"), TextAnalysis.words(planted).as("ws"))
    val evalSet = base
      .filter(col("doc_id") % 97 === 0 && size(col("ws")) >= 10)
      .select(md5(array_join(slice(col("ws"), 3, 8), " ").cast("binary")).as("g"))
      .union(base.sparkSession.range(1)
        .select(md5(lit(marker).cast("binary")).as("g")))
      .distinct()
    val ngrams = base
      .filter(size(col("ws")) >= 8)
      .select(col("doc_id"),
        explode(transform(
          sequence(lit(1), size(col("ws")) - 7),
          i => md5(array_join(slice(col("ws"), i, lit(8)), " ").cast("binary"))))
          .as("g"))
    ngrams.join(broadcast(evalSet), Seq("g"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
  }

  /** Oracle of the four ANN recall queries: the exact top-5 row count for
    * the first 20 query vectors, with recall_ok true (each query asserts
    * its recall floor on the Spark side).
    */
  private val AnnRecallSql: String =
    """SELECT CAST(count(*) AS BIGINT) AS n, true AS recall_ok FROM (
      |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
      |    ROW_NUMBER() OVER (PARTITION BY a.vec_id
      |      ORDER BY list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
      |        CAST(b.embedding AS DOUBLE[])) DESC, b.vec_id) AS rk
      |  FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
      |  WHERE a.vec_id < 20)
      |WHERE rk <= 5""".stripMargin

  /** One catalog query: its name (the key in `SparkEntry.queries`), its
    * Spark plan and the DuckDB SQL that must return the same rows.
    */
  final case class Query(name: String, run: Q, oracleSql: String)

  /** Every catalog query; `queries` and `oracleSql` are derived from it. */
  val all: Seq[Query] = Seq(
    // ---------------------------------------------------------------------
    // Relational core (SURVEY.md par.2.1-2.7)
    // ---------------------------------------------------------------------

    /** A1/A6-style grouped aggregation with map-side partial agg (TPC-H Q1
      * shape). Filter + projection push down to the parquet scan.
      */
    Query("q_agg_sum", (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("n")),
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin),

    /** P4/P11: predicate + column pruning, both pushed to the scan. */
    Query("q_filter_project", (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") < lit("1996-01-01").cast("timestamp")
          && col("l_quantity") > 45)
        .select("l_orderkey", "l_linenumber", "l_returnflag"),
      """SELECT l_orderkey, l_linenumber, l_returnflag FROM lineitem
        |WHERE l_shipdate < TIMESTAMP '1996-01-01' AND l_quantity > 45""".stripMargin),

    /** J2-style equi join; the dimension side is explicitly broadcast —
      * at 100 TB the fact side never shuffles for this join.
      */
    Query("q_join_agg", (s, dir) =>
      t(s, dir, "orders")
        .join(broadcast(t(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(round(sum("o_totalprice"), 2).as("total"), count(lit(1)).as("n")),
      """SELECT c_mktsegment, round(sum(o_totalprice), 2) AS total, count(*) AS n
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin),

    /** Co-located join via bucketed tables — the 100 TB lever for fact-fact
      * joins where neither side broadcasts: both tables are written
      * bucketed (+ sorted) on the join key, so the sort-merge join needs NO
      * exchange and NO sort on either side (PlanSpec asserts zero
      * exchanges with broadcast disabled). The merge hint keeps the plan on
      * the bucket-aware SMJ path even at oracle scale where the dimension
      * would otherwise broadcast.
      */
    Query("q_bucketed_join", (s, dir) => {
      // Table names carry the application id + scale dir, so two concurrent
      // drivers sharing a warehouse directory never race on the same
      // locations, and staging is memoized per (app, sfDir): the bucketed
      // tables are written ONCE and every later invocation (bench reruns
      // included) measures only the join — not two table writes.
      val sfName = dir.replaceAll("[^A-Za-z0-9]", "_")
      val appId = s.sparkContext.applicationId.replaceAll("[^A-Za-z0-9]", "_")
      val bo = s"b_orders_${appId}_$sfName"; val bc = s"b_customer_${appId}_$sfName"
      // a FRESH session's in-memory catalog has forgotten tables a previous
      // JVM wrote, but their warehouse locations persist and block
      // saveAsTable — drop the entry AND clear the orphaned location
      def fresh(name: String): Unit = {
        s.sql(s"DROP TABLE IF EXISTS $name")
        val wh = s.conf.get("spark.sql.warehouse.dir")
          .stripPrefix("file:").stripPrefix("//")
        graft.core.Fs.deleteRecursively(java.nio.file.Paths.get(wh, name.toLowerCase))
      }
      // a catalog hit alone is not enough: a concurrent driver's stale-
      // sibling sweep (or an operator rm) can delete the warehouse location
      // while this session's in-memory catalog still lists the table —
      // re-verify the data location exists before trusting the memo
      def located(name: String): Boolean =
        s.catalog.tableExists(name) && {
          val wh = s.conf.get("spark.sql.warehouse.dir")
            .stripPrefix("file:").stripPrefix("//")
          java.nio.file.Files.exists(java.nio.file.Paths.get(wh, name.toLowerCase))
        }
      if (!located(bo) || !located(bc)) {
        fresh(bo); fresh(bc)
        // pre-partition by the bucket column with the bucket count: the
        // bucketed writer assigns rows to bucket files with the same hash,
        // so each task holds exactly one bucket — the stage writes 8 files
        // with 8 parallel local sorts instead of one single-split task
        // sorting and writing all 8 (correct either way; this is layout
        // alignment, not semantics)
        t(s, dir, "orders").select("o_custkey", "o_totalprice")
          .repartition(8, col("o_custkey"))
          .write.mode("overwrite").bucketBy(8, "o_custkey").sortBy("o_custkey")
          .saveAsTable(bo)
        t(s, dir, "customer").select("c_custkey", "c_mktsegment")
          .repartition(8, col("c_custkey"))
          .write.mode("overwrite").bucketBy(8, "c_custkey").sortBy("c_custkey")
          .saveAsTable(bc)
        val wh = s.conf.get("spark.sql.warehouse.dir")
          .stripPrefix("file:").stripPrefix("//")
        Seq(bo, bc).foreach(n =>
          registerCleanup(java.nio.file.Paths.get(wh, n.toLowerCase).toString))
        Seq("b_orders_", "b_customer_").foreach(p =>
          sweepStaleSiblings(java.nio.file.Paths.get(wh), p))
      }
      s.table(bo).hint("merge")
        .join(s.table(bc), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"), round(avg("o_totalprice"), 2).as("avg_price"))
    },
      """SELECT c_mktsegment, count(*) AS n_orders,
        |  round(avg(o_totalprice), 2) AS avg_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin),

    /** Multi-join over the dimension chain (all broadcastable). */
    Query("q_multi_join", (s, dir) =>
      t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        .agg(count(lit(1)).as("n_suppliers"), round(avg("s_acctbal"), 2).as("avg_bal")),
      """SELECT r_name, count(*) AS n_suppliers, round(avg(s_acctbal), 2) AS avg_bal
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name""".stripMargin),

    /** O4/W1: deterministic top-k per group via row_number (unique tiebreak). */
    Query("q_window_topk", (s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rk")
    },
      """SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |  FROM orders) WHERE rk <= 3""".stripMargin),

    /** U1 + distinct: unionByName of two filtered branches. */
    Query("q_union_distinct", (s, dir) => {
      val c = t(s, dir, "customer")
      c.filter(col("c_mktsegment") === "BUILDING").select("c_nationkey")
        .unionByName(c.filter(col("c_acctbal") > 9000).select("c_nationkey"))
        .distinct()
    },
      """SELECT DISTINCT c_nationkey FROM (
        |  SELECT c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |  UNION ALL
        |  SELECT c_nationkey FROM customer WHERE c_acctbal > 9000)""".stripMargin),

    /** O2: ORDER BY + LIMIT with a unique tiebreak key (deterministic set). */
    Query("q_orderby_limit", (s, dir) =>
      t(s, dir, "events")
        .orderBy(col("ts"), col("event_id"))
        .limit(100)
        .select("event_id", "ts", "event_type"),
      "SELECT event_id, ts, event_type FROM events ORDER BY ts, event_id LIMIT 100"),

    /** J5: left_anti join — customers with no high-value order
      * (the invalid-cache skip pattern, idrt/algorithm/prepare_data.py:81-86).
      */
    Query("q_anti_join", (s, dir) =>
      t(s, dir, "customer")
        .join(
          t(s, dir, "orders").filter(col("o_totalprice") > 300000),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name"),
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 300000)""".stripMargin),

    // ---------------------------------------------------------------------
    // Incremental semantics (SURVEY.md par.2.10: I1/I2, P6/P7) and upsert (S6)
    // ---------------------------------------------------------------------

    /** P6/I1: the reference's "stale rows" predicate — rows absent from the
      * processed output or updated since last processing get recomputed
      * (reference: idrt/algorithm/prepare_data.py:67-77). The processed side
      * is derived deterministically from events itself.
      */
    Query("q_incremental_stale", (s, dir) => {
      val ev = t(s, dir, "events")
      val processed = ev.filter(col("event_id") % 3 === 0)
        .select(col("event_id").as("p_event_id"),
          when(col("user_id") < 50, col("ts") + expr("INTERVAL 1 HOUR"))
            .otherwise(col("ts") - expr("INTERVAL 1 HOUR")).as("processed_ts"))
      ev.join(processed, col("event_id") === col("p_event_id"), "left")
        .filter(col("p_event_id").isNull || col("ts") > col("processed_ts"))
        .select("event_id", "user_id")
    },
      """SELECT e.event_id, e.user_id FROM events e
        |LEFT JOIN (
        |  SELECT event_id AS p_event_id,
        |    CASE WHEN user_id < 50 THEN ts + INTERVAL 1 HOUR
        |         ELSE ts - INTERVAL 1 HOUR END AS processed_ts
        |  FROM events WHERE event_id % 3 = 0) p
        |ON e.event_id = p.p_event_id
        |WHERE p.p_event_id IS NULL OR e.ts > p.processed_ts""".stripMargin),

    /** S6: MERGE-equivalent upsert — target rows not superseded, plus all
      * updates (reference: idrt/algorithm/database_adapter.py:59-73).
      */
    Query("q_merge_upsert", (s, dir) => {
      val ev = t(s, dir, "events")
      val target = ev.filter(col("event_id") % 2 === 0)
        .select(col("event_id"), round(col("value"), 2).as("value"))
      val updates = ev.filter(col("event_id") % 4 === 0)
        .select(col("event_id"), round(col("value") * 2, 2).as("value"))
      target.join(updates, Seq("event_id"), "left_anti").unionByName(updates)
    },
      """SELECT t.event_id, t.value FROM
        |  (SELECT event_id, round(value, 2) AS value FROM events WHERE event_id % 2 = 0) t
        |WHERE t.event_id NOT IN (SELECT event_id FROM events WHERE event_id % 4 = 0)
        |UNION ALL
        |SELECT event_id, round(value * 2, 2) AS value FROM events WHERE event_id % 4 = 0""".stripMargin),

    /** S1-S8 over a live SQL database (the reference's DatabaseAdapter,
      * database_adapter.py:10-89): load a base table into embedded Derby,
      * transactionally upsert an updates batch, read the table back through
      * the JDBC source with a pushed-down predicate. The oracle computes the
      * same merge from the parquet source directly.
      */
    Query("q_jdbc_roundtrip", (s, dir) => {
      import graft.sources.JdbcStore
      val sfName = dir.replaceAll("[^A-Za-z0-9]", "_")
      val url = JdbcStore.derbyUrl(s"catalog$sfName")
      val ev = t(s, dir, "events")
      val base = ev.filter(col("event_id") % 2 === 0)
        .select(col("event_id"), round(col("value"), 2).as("value"))
      val updates = ev.filter(col("event_id") % 4 === 0)
        .select(col("event_id"), round(col("value") * 2, 2).as("value"))
      val types = Some("event_id BIGINT, value DOUBLE")
      JdbcStore.overwrite(base, url, "events_base", types)
      JdbcStore.upsert(s, updates, url, "events_base", Seq("event_id"), types)
      // read back through the partition-parallel shape (the only JDBC read
      // that scales past one connection); rows outside [lower, upper) still
      // land in the boundary slices, so static bounds are safe. The filter
      // pushes into each slice's JDBC scan (PushedFilters).
      JdbcStore.readPartitioned(s, url, "events_base", "\"event_id\"",
        lower = 0L, upper = 1000000L, numPartitions = 4)
        .filter(col("event_id") >= 0)
        .select(col("event_id"), round(col("value"), 2).as("value"))
    },
      """SELECT t.event_id, t.value FROM
        |  (SELECT event_id, round(value, 2) AS value FROM events WHERE event_id % 2 = 0) t
        |WHERE t.event_id NOT IN (SELECT event_id FROM events WHERE event_id % 4 = 0)
        |UNION ALL
        |SELECT event_id, round(value * 2, 2) AS value FROM events WHERE event_id % 4 = 0""".stripMargin),

    // ---------------------------------------------------------------------
    // ER pipeline operators over documents (SURVEY.md par.2.2, 2.8, 2.9)
    // ---------------------------------------------------------------------

    /** P1/F1-F5: the canonical normalizing projection (lower, coalesce,
      * concat_ws, substring) — the byte-identical invariant, par.1.6 steps 2-4.
      */
    Query("er_normalize", (s, dir) =>
      t(s, dir, "documents")
        .select(
          col("doc_id"),
          col("lang"),
          Normalize.normalizeField(Seq(col("text")), 80).as("text_norm"),
          Normalize.nonPadLength(Normalize.normalizeField(Seq(col("text")), 80)).as("norm_len")),
      """SELECT doc_id, lang,
        |  substring(lower(coalesce(text, '')), 1, 80) AS text_norm,
        |  length(substring(lower(coalesce(text, '')), 1, 80)) AS norm_len
        |FROM documents""".stripMargin),

    /** P5: vocabulary validity gate (printable ASCII), counted per lang
      * (reference: idrt/data.py:175-189).
      */
    Query("er_validity_split", (s, dir) =>
      t(s, dir, "documents")
        .groupBy("lang")
        .agg(
          sum(when(Normalize.isValidText(col("text")), 1L).otherwise(0L)).as("n_valid"),
          sum(when(Normalize.isValidText(col("text")), 0L).otherwise(1L)).as("n_invalid")),
      // CAST: DuckDB integer sums are HUGEINT (int128); Spark's are BIGINT —
      // the driver hashes typed values, so the oracle must cast to BIGINT.
      """SELECT lang,
        |  CAST(sum(CASE WHEN regexp_full_match(coalesce(text, ''), '[\x20-\x7E\t\n\r\x0B\x0C]*') THEN 1 ELSE 0 END) AS BIGINT) AS n_valid,
        |  CAST(sum(CASE WHEN regexp_full_match(coalesce(text, ''), '[\x20-\x7E\t\n\r\x0B\x0C]*') THEN 0 ELSE 1 END) AS BIGINT) AS n_invalid
        |FROM documents GROUP BY lang""".stripMargin),

    /** F16/J4: order-insensitive pair canonicalization with least/greatest,
      * then groupBy-min dedup (A8) — replaces the reference's O(n*m) OR-join
      * (idrt/algorithm/run_search.py:417-428) with an equi-joinable key.
      */
    Query("er_pair_canonical", (s, dir) => {
      val ev = t(s, dir, "events")
      val pairs = ev.select(
        col("user_id").as("u"),
        (col("event_id") % 97).as("v"),
        round(col("value"), 2).as("d"))
      pairs.select(
        least(col("u"), col("v")).as("k1"),
        greatest(col("u"), col("v")).as("k2"),
        col("d"))
        .groupBy("k1", "k2")
        .agg(min("d").as("min_d"))
    },
      """SELECT least(user_id, event_id % 97) AS k1,
        |       greatest(user_id, event_id % 97) AS k2,
        |       min(round(value, 2)) AS min_d
        |FROM events GROUP BY 1, 2""".stripMargin),

    /** The flagship slice (SURVEY.md par.7.2 step 3): normalize -> block on
      * (lang, source) -> in-block self-join with doc_id1 < doc_id2 (G1
      * Unpooled semantics + G3 corrected self-pair handling) -> Jaro-Winkler
      * + normalized-Levenshtein score (M2 replacement) -> matches threshold
      * (P9). The self-join key is the block, so the shuffle is by block key
      * and each block's pairs are generated locally — the quadratic blowup is
      * bounded by block size, which the full pipeline caps + salts.
      */
    Query("er_blocking_pairs", (s, dir) => {
      val docs = t(s, dir, "documents")
        .select(
          col("doc_id"),
          col("lang"),
          col("source"),
          Normalize.normalizeField(Seq(col("text")), 60).as("text_norm"))
      // spread only the probe side (explicit width — see Par.spread); the
      // build side broadcasts
      val lhs = docs.repartition(Par.spread(s), col("lang"), col("source"), col("doc_id")).select(
        col("lang"), col("source"),
        col("doc_id").as("doc_id1"), col("text_norm").as("t1"))
      val rhs = docs.select(
        col("lang"), col("source"),
        col("doc_id").as("doc_id2"), col("text_norm").as("t2"))
      val jw = Similarity.jaroWinkler(col("t1"), col("t2"))
      val lev = Similarity.levenshteinSim(col("t1"), col("t2"))
      lhs.join(rhs, Seq("lang", "source"))
        .filter(col("doc_id1") < col("doc_id2"))
        .select(
          col("doc_id1"), col("doc_id2"),
          round((jw * 0.5 + lev * 0.5), 4).as("score"))
        .withColumn("matches", col("score") >= 0.75)
    },
      """WITH docs AS (
        |  SELECT doc_id, lang, source,
        |    substring(lower(coalesce(text, '')), 1, 60) AS text_norm
        |  FROM documents)
        |SELECT a.doc_id AS doc_id1, b.doc_id AS doc_id2,
        |  round(0.5 * jaro_winkler_similarity(a.text_norm, b.text_norm)
        |    + 0.5 * (CASE WHEN greatest(length(a.text_norm), length(b.text_norm)) = 0
        |             THEN 1.0
        |             ELSE 1.0 - levenshtein(a.text_norm, b.text_norm)
        |                  / CAST(greatest(length(a.text_norm), length(b.text_norm)) AS DOUBLE) END),
        |    4) AS score,
        |  (round(0.5 * jaro_winkler_similarity(a.text_norm, b.text_norm)
        |    + 0.5 * (CASE WHEN greatest(length(a.text_norm), length(b.text_norm)) = 0
        |             THEN 1.0
        |             ELSE 1.0 - levenshtein(a.text_norm, b.text_norm)
        |                  / CAST(greatest(length(a.text_norm), length(b.text_norm)) AS DOUBLE) END),
        |    4) >= 0.75) AS matches
        |FROM docs a JOIN docs b
        |  ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id""".stripMargin),

    /** par.2.12 capabilities the engine inherits from Catalyst: rollup. */
    Query("q_rollup", (s, dir) =>
      t(s, dir, "orders")
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total")),
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total
        |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)""".stripMargin),

    /** par.2.12: intersect / except. */
    Query("q_intersect_except", (s, dir) => {
      val c = t(s, dir, "customer")
      val building = c.filter(col("c_mktsegment") === "BUILDING").select("c_nationkey")
      val rich = c.filter(col("c_acctbal") > 5000).select("c_nationkey")
      val inter = building.intersect(rich).withColumn("which", lit("both"))
      val exc = building.except(rich).withColumn("which", lit("building_only"))
      inter.unionByName(exc)
    },
      """SELECT c_nationkey, 'both' AS which FROM (
        |  SELECT c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |  INTERSECT
        |  SELECT c_nationkey FROM customer WHERE c_acctbal > 5000)
        |UNION ALL
        |SELECT c_nationkey, 'building_only' AS which FROM (
        |  SELECT c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |  EXCEPT
        |  SELECT c_nationkey FROM customer WHERE c_acctbal > 5000)""".stripMargin),

    /** left_semi (EXISTS) — the incremental pipelines use anti; semi is the
      * complement.
      */
    Query("q_semi_join", (s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders").filter(col("o_totalprice") > 400000),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_mktsegment"),
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 400000)""".stripMargin),

    // ---------------------------------------------------------------------
    // ER: scoring, top-k, incremental recompare, metrics, clustering
    // ---------------------------------------------------------------------

    /** J2+M2: pair scoring inside blocks — JW + normalized Levenshtein on
      * customer names, blocked by (nation, segment).
      */
    Query("er_scores", erScores,
      """SELECT a.c_custkey AS k1, b.c_custkey AS k2,
        |  round(jaro_winkler_similarity(a.c_name, b.c_name), 4) AS jw,
        |  levenshtein(a.c_name, b.c_name) AS lev
        |FROM customer a JOIN customer b
        |  ON a.c_nationkey = b.c_nationkey AND a.c_mktsegment = b.c_mktsegment
        |  AND a.c_custkey < b.c_custkey""".stripMargin),

    /** O4: per-record top-k nearest candidates (the reference's n_closest
      * cap, run_search.py:148-150) — top-3 by rounded JW, id tiebreak,
      * within the (nation, segment) candidate block. Top-k by an unindexable
      * metric is inherently all-pairs within its candidate scope, so the
      * scope must be a bounded composite block — (nation, segment) keeps
      * per-key fan-out ~25x below the bare-nation block the same query used
      * to scan.
      */
    Query("er_topk_candidates", (s, dir) => {
      val c = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"), col("c_name"))
      val a = c.repartition(Par.spread(s), col("c_nationkey"), col("c_mktsegment"), col("c_custkey"))
        .select(col("c_nationkey"), col("c_mktsegment"),
          col("c_custkey").as("k1"), col("c_name").as("n1"))
      val b = c.select(col("c_nationkey"), col("c_mktsegment"),
        col("c_custkey").as("k2"), col("c_name").as("n2"))
      val scored = a.join(b, Seq("c_nationkey", "c_mktsegment"))
        .filter(col("k1") =!= col("k2"))
        .select(col("k1"), col("k2"),
          round(Similarity.jaroWinkler(col("n1"), col("n2")), 4).as("jw"))
        // explicit width for the top-k window's exchange too: AQE would
        // coalesce the 1.8M scored rows to a couple of partitions and
        // serialize the per-k1 sort
        .repartition(Par.spread(s), col("k1"))
      val w = Window.partitionBy("k1").orderBy(col("jw").desc, col("k2"))
      scored.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select("k1", "k2", "jw", "rk")
    },
      """SELECT k1, k2, jw, rk FROM (
        |  SELECT a.c_custkey AS k1, b.c_custkey AS k2,
        |    round(jaro_winkler_similarity(a.c_name, b.c_name), 4) AS jw,
        |    ROW_NUMBER() OVER (PARTITION BY a.c_custkey
        |      ORDER BY round(jaro_winkler_similarity(a.c_name, b.c_name), 4) DESC,
        |               b.c_custkey) AS rk
        |  FROM customer a JOIN customer b
        |    ON a.c_nationkey = b.c_nationkey AND a.c_mktsegment = b.c_mktsegment
        |    AND a.c_custkey <> b.c_custkey)
        |WHERE rk <= 3""".stripMargin),

    /** The capped, scale-honest twin of the all-pairs JW block family:
      * sorted-neighborhood pairing inside (nation, segment) blocks — each
      * record scores against only its next `SnWindow` neighbors in key
      * order, the exact hot-block fallback the production pipeline uses
      * (ErPipeline.candidates). Expressed with lead() windows, so the plan
      * is ONE block-keyed shuffle and ZERO joins (PlanSpec asserts no join
      * node): pair volume is O(n x window), never C(block,2), at any block
      * size — this is the shape that survives 100x block growth.
      */
    Query("er_sorted_neighbors", (s, dir) => {
      val c = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"), col("c_name"))
      val w = Window.partitionBy("c_nationkey", "c_mktsegment").orderBy("c_custkey")
      val nbrs = array((1 to SnWindow).map(i =>
        struct(lead("c_custkey", i).over(w).as("k2"),
          lead("c_name", i).over(w).as("n2"))): _*)
      c.select(col("c_custkey").as("k1"), col("c_name").as("n1"), nbrs.as("nbrs"))
        .select(col("k1"), col("n1"), explode(col("nbrs")).as("p"))
        .filter(col("p.k2").isNotNull)
        .select(col("k1"), col("p.k2").as("k2"),
          round(Similarity.jaroWinkler(col("n1"), col("p.n2")), 4).as("jw"))
    },
      s"""WITH o AS (
        |  SELECT c_custkey, c_name, c_nationkey, c_mktsegment,
        |    ROW_NUMBER() OVER (PARTITION BY c_nationkey, c_mktsegment
        |      ORDER BY c_custkey) AS rn
        |  FROM customer)
        |SELECT a.c_custkey AS k1, b.c_custkey AS k2,
        |  round(jaro_winkler_similarity(a.c_name, b.c_name), 4) AS jw
        |FROM o a JOIN o b
        |  ON a.c_nationkey = b.c_nationkey AND a.c_mktsegment = b.c_mktsegment
        |  AND b.rn > a.rn AND b.rn <= a.rn + $SnWindow""".stripMargin),

    /** P7/J4/I2: pair-level re-comparison predicate — pairs unseen or with
      * either side updated since comparison_ts
      * (reference: idrt/algorithm/run_search.py:416-434).
      */
    Query("er_recompare", (s, dir) => {
      val ev = t(s, dir, "events").filter(col("event_id") % 37 === 0)
        .select(col("event_id"), col("user_id"), col("ts"))
      val a = ev.select(col("user_id"), col("event_id").as("id1"), col("ts").as("ts1"))
      val b = ev.select(col("user_id"), col("event_id").as("id2"), col("ts").as("ts2"))
      val pairs = a.join(b, Seq("user_id")).filter(col("id1") < col("id2"))
      val prior = pairs.filter((col("id1") + col("id2")) % 3 === 0)
        .select(col("id1").as("p1"), col("id2").as("p2"),
          when(col("user_id") < 50,
            greatest(col("ts1"), col("ts2")) + expr("INTERVAL 1 HOUR"))
            .otherwise(greatest(col("ts1"), col("ts2")) - expr("INTERVAL 1 HOUR"))
            .as("comparison_ts"))
      pairs.join(prior, col("id1") === col("p1") && col("id2") === col("p2"), "left")
        .filter(col("p1").isNull || col("ts1") > col("comparison_ts")
          || col("ts2") > col("comparison_ts"))
        .select("id1", "id2", "user_id")
    },
      """WITH ev AS (SELECT event_id, user_id, ts FROM events WHERE event_id % 37 = 0),
        |pairs AS (
        |  SELECT a.user_id, a.event_id AS id1, b.event_id AS id2, a.ts AS ts1, b.ts AS ts2
        |  FROM ev a JOIN ev b ON a.user_id = b.user_id AND a.event_id < b.event_id),
        |prior AS (
        |  SELECT id1 AS p1, id2 AS p2,
        |    CASE WHEN user_id < 50 THEN greatest(ts1, ts2) + INTERVAL 1 HOUR
        |         ELSE greatest(ts1, ts2) - INTERVAL 1 HOUR END AS comparison_ts
        |  FROM pairs WHERE (id1 + id2) % 3 = 0)
        |SELECT id1, id2, user_id FROM pairs p
        |LEFT JOIN prior q ON p.id1 = q.p1 AND p.id2 = q.p2
        |WHERE q.p1 IS NULL OR p.ts1 > q.comparison_ts OR p.ts2 > q.comparison_ts""".stripMargin),

    /** A6: confusion-matrix / precision-recall-F1 aggregation over a
      * predictions table (pred = rounded JW >= 0.94, label = lev <= 1).
      */
    Query("er_f1_metrics", (s, dir) => {
      val scored = erScores(s, dir)
        .withColumn("pred", col("jw") >= 0.94)
        .withColumn("is_dup", col("lev") <= 1)
      scored.agg(
        sum(when(col("pred") && col("is_dup"), 1L).otherwise(0L)).as("tp"),
        sum(when(col("pred") && !col("is_dup"), 1L).otherwise(0L)).as("fp"),
        sum(when(!col("pred") && col("is_dup"), 1L).otherwise(0L)).as("fn"),
        count(lit(1)).as("n"))
        .select(col("tp"), col("fp"), col("fn"), col("n"),
          round(col("tp") / (col("tp") + col("fp")), 4).as("precision"),
          round(col("tp") / (col("tp") + col("fn")), 4).as("recall"))
    },
      """WITH scored AS (
        |  SELECT round(jaro_winkler_similarity(a.c_name, b.c_name), 4) >= 0.94 AS pred,
        |         levenshtein(a.c_name, b.c_name) <= 1 AS is_dup
        |  FROM customer a JOIN customer b
        |    ON a.c_nationkey = b.c_nationkey AND a.c_mktsegment = b.c_mktsegment
        |    AND a.c_custkey < b.c_custkey)
        |SELECT tp, fp, fn, n,
        |  round(CAST(tp AS DOUBLE) / (tp + fp), 4) AS precision,
        |  round(CAST(tp AS DOUBLE) / (tp + fn), 4) AS recall
        |FROM (SELECT
        |  CAST(sum(CASE WHEN pred AND is_dup THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        |  CAST(sum(CASE WHEN pred AND NOT is_dup THEN 1 ELSE 0 END) AS BIGINT) AS fp,
        |  CAST(sum(CASE WHEN NOT pred AND is_dup THEN 1 ELSE 0 END) AS BIGINT) AS fn,
        |  count(*) AS n FROM scored)""".stripMargin),

    /** The wrong-pair report (reference: idrt/report.py:41-176, eval.py:
      * 87-119): the detail table a user debugs with — every incorrectly
      * predicted pair with both names, the scores, and the error class
      * (false_positive / false_negative). Same pred/label definitions as
      * er_f1_metrics.
      */
    Query("er_wrong_pairs", (s, dir) => {
      val c = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"), col("c_name"))
      val a = c.repartition(Par.spread(s), col("c_nationkey"), col("c_custkey"))
        .select(col("c_nationkey"), col("c_mktsegment"),
          col("c_custkey").as("k1"), col("c_name").as("n1"))
      val b = c.select(col("c_nationkey"), col("c_mktsegment"),
        col("c_custkey").as("k2"), col("c_name").as("n2"))
      // The scored pair table is MATERIALIZED once (eager localCheckpoint)
      // before the wrongness filter. Without the barrier, Catalyst pushes
      // the filter into the join and inlines round(jw)/levenshtein into the
      // BroadcastHashJoin condition AND the projection, evaluating both
      // string kernels twice per pair (measured 5.7x slower); the explode
      // fence tried in round 2 kept single evaluation but broke whole-stage
      // codegen across the generator (BENCH_r02: 2.9x er_scores). This also
      // models the production shape: reports read a materialized scores
      // table, exactly what the reference does (report.py reads the
      // duplicates table back).
      val scored = a.join(b, Seq("c_nationkey", "c_mktsegment"))
        .filter(col("k1") < col("k2"))
        .select(col("k1"), col("k2"), col("n1"), col("n2"),
          round(Similarity.jaroWinkler(col("n1"), col("n2")), 4).as("jw"),
          levenshtein(col("n1"), col("n2")).as("lev"))
        .localCheckpoint()
      scored
        .withColumn("pred", col("jw") >= 0.94)
        .withColumn("is_dup", col("lev") <= 1)
        .filter(col("pred") =!= col("is_dup"))
        .withColumn("error_type",
          when(col("pred"), lit("false_positive")).otherwise(lit("false_negative")))
        .select("k1", "k2", "n1", "n2", "jw", "lev", "error_type")
    },
      """WITH scored AS (
        |  SELECT a.c_custkey AS k1, b.c_custkey AS k2,
        |    a.c_name AS n1, b.c_name AS n2,
        |    round(jaro_winkler_similarity(a.c_name, b.c_name), 4) AS jw,
        |    levenshtein(a.c_name, b.c_name) AS lev
        |  FROM customer a JOIN customer b
        |    ON a.c_nationkey = b.c_nationkey AND a.c_mktsegment = b.c_mktsegment
        |    AND a.c_custkey < b.c_custkey)
        |SELECT k1, k2, n1, n2, jw, lev,
        |  CASE WHEN jw >= 0.94 THEN 'false_positive' ELSE 'false_negative' END AS error_type
        |FROM scored WHERE (jw >= 0.94) <> (lev <= 1)""".stripMargin),

    /** Transitive clustering (north rule): connected components over
      * name-similarity edges, cluster id = min member key. The oracle is a
      * DuckDB recursive CTE propagating the component minimum.
      */
    Query("er_clusters", (s, dir) => {
      val c = t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"), col("c_name"))
        .repartition(Par.spread(s), col("c_nationkey"), col("c_custkey"))
      // deletion-neighborhood blocking: exact lev<=1 recall with O(n * len)
      // keys instead of the O(block^2) Levenshtein scan the oracle SQL does
      val edges = Dedup.lev1Pairs(c, "c_custkey", "c_name", Seq("c_nationkey"))
        .select(col("id1").as("u"), col("id2").as("v"))
      graft.operators.Clustering.clusterAll(c, "c_custkey", edges, "u", "v")
    },
      """WITH RECURSIVE e AS (
        |  SELECT a.c_custkey AS u, b.c_custkey AS v FROM customer a JOIN customer b
        |  ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
        |  AND levenshtein(a.c_name, b.c_name) <= 1),
        |bidir AS (SELECT u, v FROM e UNION SELECT v AS u, u AS v FROM e),
        |walk(node, comp) AS (
        |  SELECT c_custkey, c_custkey FROM customer
        |  UNION
        |  SELECT b.u AS node, w.comp FROM walk w JOIN bidir b ON w.node = b.v
        |  WHERE w.comp < b.u)
        |SELECT node AS c_custkey, min(comp) AS cluster_id FROM walk GROUP BY node""".stripMargin),

    // ---------------------------------------------------------------------
    // Dedup family over documents
    // ---------------------------------------------------------------------

    /** Exact dedup via canonical-content fingerprint. */
    Query("dedup_exact", (s, dir) =>
      Dedup.exactDedup(t(s, dir, "documents"), "doc_id", "text"),
      """SELECT md5(trim(regexp_replace(lower(coalesce(text, '')), '\s+', ' ', 'g'))) AS fingerprint,
        |  min(doc_id) AS keep_id, count(*) AS n_dups
        |FROM documents GROUP BY 1""".stripMargin),

    /** Word-3-gram shingle Jaccard near-dups within (lang, source) blocks —
      * EXACT output, but candidates come from MinHash banding (r=2, b=64:
      * miss probability ~1e-8 at j >= 0.5) instead of the quadratic in-block
      * scan, so per-key fan-out is bounded by LSH bucket occupancy. The
      * DuckDB oracle is the brute-force twin.
      */
    Query("dedup_ngram_jaccard", (s, dir) =>
      Dedup.ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text",
        Seq("lang", "source"), 3, 0.5)
        .select(col("id1").as("doc_id1"), col("id2").as("doc_id2"), col("jac")),
      """WITH sh AS (
        |  SELECT doc_id, lang, source,
        |    list_distinct(CASE WHEN len(w) >= 3
        |      THEN list_transform(generate_series(1, len(w) - 2),
        |             i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
        |      ELSE [array_to_string(w, ' ')] END) AS sh
        |  FROM (SELECT doc_id, lang, source,
        |          string_split(trim(regexp_replace(lower(coalesce(text, '')), '\s+', ' ', 'g')), ' ') AS w
        |        FROM documents))
        |SELECT a.doc_id AS doc_id1, b.doc_id AS doc_id2,
        |  round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |    / len(list_distinct(list_concat(a.sh, b.sh))), 4) AS jac
        |FROM sh a JOIN sh b
        |  ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
        |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |    / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5""".stripMargin),

    /** The dedup END PRODUCT — which documents to keep: near-dup pairs
      * (MinHash-banded exact shingle Jaccard within (lang, source)
      * blocks) -> connected components -> canonical survivor = min doc_id
      * per cluster. This composes the candidate generation, verification
      * and transitive-closure operators into the retention decision a
      * training-data pipeline actually ships; the oracle recomputes the
      * clusters with a brute-force join + recursive CTE.
      */
    Query("dedup_cluster_keep", (s, dir) => {
      val d = t(s, dir, "documents")
      val pairs = Dedup.ngramJaccardPairs(d, "doc_id", "text",
        Seq("lang", "source"), 3, 0.5)
        .select(col("id1").as("u"), col("id2").as("v"))
      graft.operators.Clustering
        .clusterAll(d.select(col("doc_id")), "doc_id", pairs, "u", "v")
        .withColumn("keep", col("cluster_id") === col("doc_id"))
    },
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id, lang, source,
        |    list_distinct(CASE WHEN len(w) >= 3
        |      THEN list_transform(generate_series(1, len(w) - 2),
        |             i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
        |      ELSE [array_to_string(w, ' ')] END) AS sh
        |  FROM (SELECT doc_id, lang, source,
        |          string_split(trim(regexp_replace(lower(coalesce(text, '')), '\s+', ' ', 'g')), ' ') AS w
        |        FROM documents)),
        |e AS (
        |  SELECT a.doc_id AS u, b.doc_id AS v
        |  FROM sh a JOIN sh b
        |    ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |      / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5),
        |bidir AS (SELECT u, v FROM e UNION SELECT v AS u, u AS v FROM e),
        |walk(node, comp) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT b.u AS node, w.comp FROM walk w JOIN bidir b ON w.node = b.v
        |  WHERE w.comp < b.u)
        |SELECT node AS doc_id, min(comp) AS cluster_id,
        |  (min(comp) = node) AS keep
        |FROM walk GROUP BY node""".stripMargin),

    /** MinHash+LSH near-dup pipeline (shingle -> minhash -> band -> bucket
      * join -> exact-Jaccard verify >= 0.6). Oracle: brute-force shingle
      * Jaccard over the same planted corpus.
      */
    Query("dedup_minhash_lsh", (s, dir) =>
      Dedup.minHashPairs(plantedDocs(s, dir), "doc_id", "text",
        bands = 32, rowsPerBand = 3, shingleWidth = 3, verifyThreshold = 0.6)
        .select(col("id1").as("doc_id1"), col("id2").as("doc_id2"), col("jac")),
      """WITH aug AS (
        |  SELECT doc_id, lang, source, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000000 AS doc_id, lang, source,
        |    array_to_string((string_split(text, ' '))[1:greatest(3,
        |      CAST(floor(0.9 * len(string_split(text, ' '))) AS INT))], ' ') AS text
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(CASE WHEN len(w) >= 3
        |      THEN list_transform(generate_series(1, len(w) - 2),
        |             i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
        |      ELSE [array_to_string(w, ' ')] END) AS sh
        |  FROM (SELECT doc_id,
        |          string_split(trim(regexp_replace(lower(coalesce(text, '')), '\s+', ' ', 'g')), ' ') AS w
        |        FROM aug))
        |SELECT a.doc_id AS doc_id1, b.doc_id AS doc_id2,
        |  round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |    / len(list_distinct(list_concat(a.sh, b.sh))), 4) AS jac
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |    / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.6""".stripMargin),

    /** SimHash near-dup detection, gated by planted-pair containment: every
      * document gets a planted near-duplicate (its canonical text repeated
      * twice, id + PlantOffset). Doubling every word count preserves each SimHash
      * counter's sign exactly, so the planted pair's hamming distance is 0
      * by construction and the 8-chunk pigeonhole MUST surface it — the
      * oracle's full-coverage claim is structural, not empirical. A recall
      * regression in the banding/verify plumbing turns rows false and fails
      * the hash check. Boundary-hamming behavior (1..7 bit flips and the
      * > maxHamming rejection) is covered by DedupSpec.
      */
    Query("dedup_simhash", (s, dir) => {
      val d = tWide(s, dir, "documents")
      val canon = Normalize.canonicalText(col("text"))
      val planted = d.select(
        (col("doc_id") + PlantOffset).as("doc_id"), col("lang"), col("source"),
        concat_ws(" ", canon, canon).as("text"))
      val corpus = d.select("doc_id", "lang", "source", "text").unionByName(planted)
      val pairs = Dedup.simHashPairs(corpus, "doc_id", "text", maxHamming = 7)
      d.select(col("doc_id"))
        .join(pairs.filter(col("id2") === col("id1") + PlantOffset)
          .select(col("id1").as("doc_id"), lit(true).as("found")),
          Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("found"), lit(false)).as("found"))
    },
      "SELECT doc_id, true AS found FROM documents"),

    /** Embedding near-dup pairs: cosine >= 0.4 (double-accumulated), EXACT
      * via the triangle-tiled self-join (equi-join on tile id — no
      * CartesianProduct; PlanSpec asserts it). 0.4 sits in the random-pair
      * bulk of these vectors, so the exact answer is inherently all-pairs
      * compute; the tiling distributes it evenly.
      */
    Query("dedup_embedding", (s, dir) =>
      Dedup.embeddingPairsExact(t(s, dir, "embeddings"), "vec_id", "embedding", 0.4)
        .select(col("id1").as("vec_id1"), col("id2").as("vec_id2")),
      """SELECT a.vec_id AS vec_id1, b.vec_id AS vec_id2
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |        CAST(b.embedding AS DOUBLE[])) >= 0.4""".stripMargin),

    /** The LSH scale path for embedding near-dup, self-checked against the
      * exact tiled join: reports the exact pair count (SQL-verifiable) and
      * whether LSH recall clears the floor the operator's parameters promise
      * (bits=4, tables=24 -> ~0.98 at cosine 0.4 — deterministic on this
      * corpus, so the boolean is stable).
      */
    Query("dedup_embedding_lsh", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val exact = Dedup.embeddingPairsExact(e, "vec_id", "embedding", 0.4)
      val approx = Dedup.embeddingPairsLsh(e, "vec_id", "embedding", 0.4)
      exact.join(approx.withColumn("hit", lit(1)), Seq("id1", "id2"), "left")
        .agg(count(lit(1)).as("n_exact"),
          (sum(coalesce(col("hit"), lit(0))).cast("double") / count(lit(1))).as("recall"))
        .select(col("n_exact"), (col("recall") >= 0.9).as("recall_ok"))
    },
      """SELECT CAST(count(*) AS BIGINT) AS n_exact, true AS recall_ok
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |        CAST(b.embedding AS DOUBLE[])) >= 0.4""".stripMargin),

    // ---------------------------------------------------------------------
    // Similarity search (ANN)
    // ---------------------------------------------------------------------

    /** Brute-force cosine top-5 for the first 20 vectors (exact baseline;
      * broadcast queries, single corpus scan).
      */
    Query("ann_bruteforce_topk", (s, dir) => {
      val e = t(s, dir, "embeddings")
      Ann.bruteForceTopK(e.filter(col("vec_id") < 20), e, "vec_id", "vec_id", "embedding", 5)
    },
      """SELECT query_id, neighbor_id, rk FROM (
        |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        |    ROW_NUMBER() OVER (PARTITION BY a.vec_id
        |      ORDER BY list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |        CAST(b.embedding AS DOUBLE[])) DESC, b.vec_id) AS rk
        |  FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
        |  WHERE a.vec_id < 20)
        |WHERE rk <= 5""".stripMargin),

    /** LSH-bucketed ANN recall vs the exact baseline, driver-checkable: n is
      * the exact top-k row count (SQL-verifiable) and recall_ok asserts the
      * floor the LSH parameters promise. Deterministic hyperplanes -> the
      * boolean is stable; a recall regression flips it and fails the hash.
      */
    Query("ann_lsh_recall", (s, dir) => {
      val e = t(s, dir, "embeddings")
      Ann.lshRecall(e.filter(col("vec_id") < 20), e, "vec_id", "vec_id", "embedding", 5,
        bits = 4, tables = 32)
        .select(col("n"), (col("recall") >= 0.9).as("recall_ok"))
    },
      AnnRecallSql),

    /** IVF-bucketed ANN recall vs the exact baseline (the second scale path
      * complementing LSH: k-means coarse quantizer + nProbe cell probing +
      * exact re-rank). Same driver-checkable shape as ann_lsh_recall; the
      * quantizer trains deterministically on a hash-ordered sample, so the
      * boolean is stable. Floor 0.7: these synthetic embeddings are
      * structureless (top-5 neighbors sit in the random bulk), which is a
      * coarse quantizer's WORST case — measured 0.79-0.84 across SFs at a
      * 50% probe fraction here, vs ~1.0 on clusterable vectors (AnnSpec).
      */
    Query("ann_ivf_recall", (s, dir) => {
      val e = t(s, dir, "embeddings")
      Ann.ivfRecall(e.filter(col("vec_id") < 20), e, "vec_id", "vec_id", "embedding", 5,
        cells = 16, nProbe = 8)
        .select(col("n"), (col("recall") >= 0.7).as("recall_ok"))
    },
      AnnRecallSql),

    /** Int8-quantized ANN recall vs the float-exact baseline — the storage
      * lever (4x smaller vectors in memory and shuffles). Same
      * driver-checkable shape as ann_lsh_recall; quantization is a pure
      * deterministic expression, so the boolean is stable. Floor 0.9:
      * measured 0.95-1.0 on these structureless vectors (rank inversions
      * happen only between neighbors within ~1% cosine of each other).
      */
    Query("ann_quantized_recall", (s, dir) => {
      val e = t(s, dir, "embeddings")
      Ann.quantizedRecall(e.filter(col("vec_id") < 20), e, "vec_id", "vec_id", "embedding", 5)
        .select(col("n"), (col("recall") >= 0.9).as("recall_ok"))
    },
      AnnRecallSql),

    /** IVF recall through the PERSISTED index path (AnnIndex): centroids +
      * inverted-file assignments build once as fingerprinted StageStore
      * stages under a per-(app, sfDir) root and every later invocation
      * resumes them from parquet (lineage-verified) — only the probe runs.
      * Same parameters and (deterministic) training as ann_ivf_recall, so
      * the result is identical whether the index was built or resumed.
      */
    Query("ann_index_recall", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val appId = s.sparkContext.applicationId.replaceAll("[^A-Za-z0-9]", "_")
      val sfName = dir.replaceAll("[^A-Za-z0-9]", "_")
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_annidx_${appId}_$sfName"
      registerCleanup(root)
      sweepStaleSiblings(
        java.nio.file.Paths.get(System.getProperty("java.io.tmpdir")), "graft_annidx_")
      val idx = graft.operators.AnnIndex.buildIvf(s, root, e, "vec_id", "embedding",
        cells = 16)
      val approx = graft.operators.AnnIndex.ivfTopK(
        e.filter(col("vec_id") < 20), idx, "vec_id", "embedding", 5, nProbe = 8)
      val exact = Ann.bruteForceTopK(e.filter(col("vec_id") < 20), e,
        "vec_id", "vec_id", "embedding", 5)
      exact.join(approx.select(col("query_id"), col("neighbor_id"), lit(1).as("hit")),
        Seq("query_id", "neighbor_id"), "left")
        .agg((sum(coalesce(col("hit"), lit(0))).cast("double") / count(lit(1))).as("recall"),
          count(lit(1)).as("n"))
        .select(col("n"), (col("recall") >= 0.7).as("recall_ok"))
    },
      AnnRecallSql),

    // ---------------------------------------------------------------------
    // Text analysis over documents
    // ---------------------------------------------------------------------

    Query("text_langid", (s, dir) =>
      tWide(s, dir, "documents").select(col("doc_id"), TextAnalysis.langId(col("text")).as("pred_lang")),
      {
        def cnt(w: String) = s"len(list_filter(ws, x -> x = '$w'))"
        val en = TextAnalysis.EnMarkers.map(cnt).mkString(" + ")
        val es = TextAnalysis.EsMarkers.map(cnt).mkString(" + ")
        val de = TextAnalysis.DeMarkers.map(cnt).mkString(" + ")
        s"""WITH sc AS (
           |  SELECT doc_id, $en AS s_en, $es AS s_es, $de AS s_de
           |  FROM (SELECT doc_id,
           |          string_split(trim(regexp_replace(lower(coalesce(text, '')), '\\s+', ' ', 'g')), ' ') AS ws
           |        FROM documents))
           |SELECT doc_id,
           |  CASE WHEN s_en >= s_es AND s_en >= s_de THEN 'en'
           |       WHEN s_es >= s_de THEN 'es' ELSE 'de' END AS pred_lang
           |FROM sc""".stripMargin
      }),

    Query("text_quality", (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.wordCount(col("text")).as("wc"),
        round(TextAnalysis.meanWordLen(col("text")), 4).as("mean_wl"),
        round(TextAnalysis.stopwordRatio(col("text")), 4).as("stop_ratio"),
        round(TextAnalysis.punctRatio(col("text")), 4).as("punct_ratio"),
        TextAnalysis.qualityScore(col("text")).as("quality")),
      {
        val stops = TextAnalysis.Stopwords.map(w => s"'$w'").mkString(", ")
        """WITH c AS (
          |  SELECT doc_id, coalesce(text, '') AS raw,
          |    trim(regexp_replace(lower(coalesce(text, '')), '\s+', ' ', 'g')) AS canon
          |  FROM documents),
          |f AS (
          |  SELECT doc_id, raw, canon,
          |    CASE WHEN length(canon) = 0 THEN 0 ELSE len(string_split(canon, ' ')) END AS wc,
          |    string_split(canon, ' ') AS ws
          |  FROM c)
          |SELECT doc_id, wc,
          |  round(CASE WHEN wc = 0 OR (wc = 1 AND ws[1] = '') THEN 0.0
          |    ELSE CAST(length(canon) - (wc - 1) AS DOUBLE) / wc END, 4) AS mean_wl,
          |  round(CASE WHEN wc = 0 THEN 0.0
          |    ELSE CAST(len(list_filter(ws, x -> x IN (STOPS))) AS DOUBLE) / wc END, 4) AS stop_ratio,
          |  round(CASE WHEN length(raw) = 0 THEN 0.0
          |    ELSE CAST(length(raw) - length(regexp_replace(raw, '[^a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)
          |         / length(raw) END, 4) AS punct_ratio,
          |  round(0.4 * least(CAST(wc AS DOUBLE) / 100.0, 1.0)
          |    + 0.3 * least((CASE WHEN wc = 0 THEN 0.0
          |        ELSE CAST(len(list_filter(ws, x -> x IN (STOPS))) AS DOUBLE) / wc END) * 5.0, 1.0)
          |    + 0.3 * greatest(1.0 - (CASE WHEN length(raw) = 0 THEN 0.0
          |        ELSE CAST(length(raw) - length(regexp_replace(raw, '[^a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)
          |             / length(raw) END) * 4.0, 0.0), 4) AS quality
          |FROM f""".stripMargin.replace("STOPS", stops)
      }),

    Query("text_tokens", (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.whitespaceTokenCount(col("text")).as("ws_tokens"),
        TextAnalysis.regexTokenCount(col("text")).as("re_tokens")),
      """SELECT doc_id,
        |  CASE WHEN length(trim(regexp_replace(lower(coalesce(text, '')), '\s+', ' ', 'g'))) = 0
        |    THEN 0
        |    ELSE len(string_split(trim(regexp_replace(lower(coalesce(text, '')), '\s+', ' ', 'g')), ' ')) END AS ws_tokens,
        |  len(regexp_extract_all(coalesce(text, ''), '[a-zA-Z0-9]+|[^a-zA-Z0-9\s]')) AS re_tokens
        |FROM documents""".stripMargin),

    /** PII scrubbing: every doc gets a deterministically planted email and
      * phone appended (so the oracle verifies ACTUAL redaction, not a
      * no-op), then the redactor rewrites them and the counters report
      * what was found. Patterns live in the Java-regex/RE2 common subset
      * so both engines match byte-for-byte.
      */
    Query("text_redact_pii", (s, dir) => {
      val planted = concat(
        Normalize.emptyIfNull(col("text")),
        lit(" contact user"), col("doc_id"), lit("@example.com or call 555-"),
        lpad((col("doc_id") % 1000).cast("string"), 3, "0"), lit("-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
      tWide(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.emailCount(planted).as("n_emails"),
        TextAnalysis.phoneCount(planted).as("n_phones"),
        TextAnalysis.redactPii(planted).as("redacted"))
    },
      {
        val e = TextAnalysis.EmailPattern
        val p = TextAnalysis.PhonePattern
        s"""WITH pl AS (
           |  SELECT doc_id,
           |    coalesce(text, '') || ' contact user' || doc_id || '@example.com or call 555-'
           |      || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-'
           |      || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
           |  FROM documents)
           |SELECT doc_id,
           |  len(regexp_extract_all(t, '$e')) AS n_emails,
           |  len(regexp_extract_all(t, '$p')) AS n_phones,
           |  regexp_replace(regexp_replace(t, '$e', '[EMAIL]', 'g'), '$p', '[PHONE]', 'g') AS redacted
           |FROM pl""".stripMargin
      }),

    /** Gopher/C4-style repetition signals: unique-word fraction (per-row
      * array expression) and top-bigram fraction via explode + two keyed
      * aggregations — the shape that scales past per-row aggregation when
      * documents are megabytes (the bigram shuffle is keyed by doc_id, so
      * fan-out is bounded by document length, never corpus size).
      */
    Query("text_repetition", (s, dir) => {
      // materialize the word array ONCE per row: lambdas re-evaluate outer
      // expressions per element, so an inline words(text) inside the
      // bigram transform would run the canonicalization regex once per
      // element access (measured 10.5s -> 0.7s at sf0.1 from this binding)
      val withWs = t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.words(col("text")).as("ws"))
      val base = withWs.select(col("doc_id"),
        TextAnalysis.wordCountOf(col("ws")).as("n_words"),
        round(TextAnalysis.uniqueWordFracOf(col("ws")), 4).as("uniq_word_frac"))
      val bigrams = withWs.select(col("doc_id"),
        explode(TextAnalysis.wordBigramsOf(col("ws"))).as("g"))
      val top = bigrams.groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
        .groupBy("doc_id").agg(max("c").as("top_c"), sum("c").as("n_bigrams"))
      base.join(top, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_words"), col("uniq_word_frac"),
          round(coalesce(col("top_c").cast("double") / col("n_bigrams"), lit(0.0)), 4)
            .as("top_bigram_frac"))
    },
      """WITH c AS (
        |  SELECT doc_id,
        |    trim(regexp_replace(lower(coalesce(text, '')), '\s+', ' ', 'g')) AS canon
        |  FROM documents),
        |w AS (
        |  SELECT doc_id,
        |    CASE WHEN length(canon) = 0 THEN 0 ELSE len(string_split(canon, ' ')) END AS n_words,
        |    string_split(canon, ' ') AS ws, canon
        |  FROM c),
        |bg AS (
        |  SELECT doc_id,
        |    unnest(list_transform(generate_series(1, len(ws) - 1),
        |      i -> ws[i] || ' ' || ws[i+1])) AS g
        |  FROM w WHERE canon <> '' AND len(ws) >= 2),
        |top AS (
        |  SELECT doc_id, max(c) AS top_c, sum(c) AS n_bigrams
        |  FROM (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2) GROUP BY 1)
        |SELECT w.doc_id, w.n_words,
        |  round(CASE WHEN w.n_words = 0 THEN 0.0
        |    ELSE CAST(len(list_distinct(ws)) AS DOUBLE) / w.n_words END, 4) AS uniq_word_frac,
        |  round(coalesce(CAST(top.top_c AS DOUBLE) / top.n_bigrams, 0.0), 4) AS top_bigram_frac
        |FROM w LEFT JOIN top ON w.doc_id = top.doc_id""".stripMargin),

    /** Context-window chunking: split each document into fixed 64-word
      * chunks (chunk_idx, token count, chunk text) — the pre-tokenization
      * windowing step of an LLM training pipeline. One generate+explode
      * per row; chunk fan-out is bounded by document length.
      */
    Query("text_chunks", (s, dir) => {
      val ws = TextAnalysis.words(col("text"))
      val d = t(s, dir, "documents")
        .select(col("doc_id"), ws.as("ws"))
        .filter(size(col("ws")) > 0 &&
          !(size(col("ws")) === 1 && element_at(col("ws"), 1) === ""))
      d.select(col("doc_id"),
          explode(transform(
            sequence(lit(0), ceil(size(col("ws")) / 64.0).cast("int") - 1),
            j => struct(
              j.cast("int").as("chunk_idx"),
              least(size(col("ws")) - j * 64, lit(64)).cast("int").as("n_tokens"),
              array_join(slice(col("ws"), j * 64 + 1, lit(64)), " ").as("chunk")))).as("c"))
        .select(col("doc_id"), col("c.chunk_idx").as("chunk_idx"),
          col("c.n_tokens").as("n_tokens"), col("c.chunk").as("chunk"))
    },
      """WITH c AS (
        |  SELECT doc_id,
        |    trim(regexp_replace(lower(coalesce(text, '')), '\s+', ' ', 'g')) AS canon
        |  FROM documents),
        |w AS (SELECT doc_id, string_split(canon, ' ') AS ws FROM c WHERE canon <> ''),
        |j AS (SELECT doc_id, ws,
        |        unnest(generate_series(0, CAST(ceil(len(ws) / 64.0) AS INT) - 1)) AS chunk_idx
        |      FROM w)
        |SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
        |  CAST(least(len(ws) - chunk_idx * 64, 64) AS INT) AS n_tokens,
        |  array_to_string(ws[chunk_idx*64+1 : chunk_idx*64+64], ' ') AS chunk
        |FROM j""".stripMargin),

    Query("text_fingerprint", (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"), TextAnalysis.docFingerprint(col("text")).as("fp")),
      """SELECT doc_id,
        |  md5(trim(regexp_replace(lower(coalesce(text, '')), '\s+', ' ', 'g'))) AS fp
        |FROM documents""".stripMargin),

    /** Deterministic data-mixture sampling: per-language keep quotas
      * applied as an md5-hex cutoff on the document id. No RNG state — the
      * same row is kept on every run, every engine, every cluster size,
      * which is what makes a 100-TB mixture reproducible, resumable, and
      * auditable. The quota table is tiny and broadcast; the corpus side is
      * a pure map-side filter with zero shuffle.
      */
    Query("text_mixture_sample", (s, dir) => {
      val quotas = mixtureQuotasDf(s)
      t(s, dir, "documents")
        .join(broadcast(quotas), Seq("lang"))
        .select(col("doc_id"), col("lang"), col("source"),
          (substring(md5(col("doc_id").cast("string").cast("binary")), 1, 2)
            <= col("cutoff")).as("kept"))
    },
      """WITH w(lang, cutoff) AS (
        |  VALUES QUOTAS)
        |SELECT d.doc_id, d.lang, d.source,
        |  substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 2) <= w.cutoff AS kept
        |FROM documents d JOIN w ON d.lang = w.lang""".stripMargin
        .replace("QUOTAS", MixtureQuotasSqlValues)),

    /** Benchmark decontamination: flag documents sharing any 8-word n-gram
      * with a held-out eval set. The eval set is derived deterministically
      * (one phrase from every 97th document) and a fixed eval phrase is
      * planted into every 31st document — like the PII query, the planting
      * makes the oracle verify ACTUAL cross-document matching, not just
      * each eval doc matching itself. N-grams are md5-hashed before the
      * join so the shuffle/broadcast carries 32-byte keys, not full
      * phrases; the eval side is tiny by construction (benchmarks are KBs,
      * corpora are TBs) and broadcasts, so the corpus n-gram stream is
      * never shuffled — the only corpus-keyed exchange is the per-doc hit
      * count.
      */
    Query("text_decontaminate", (s, dir) => {
      val hits = decontaminationHits(s, dir)
      t(s, dir, "documents").select(col("doc_id"))
        .join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          (coalesce(col("n_hits"), lit(0L)) > 0).as("contaminated"))
    },
      """WITH pl AS (
        |  SELECT doc_id, coalesce(text, '') ||
        |    CASE WHEN doc_id % 31 = 0
        |      THEN ' benchmark heldout eval secret phrase alpha beta gamma'
        |      ELSE '' END AS t
        |  FROM documents),
        |c AS (SELECT doc_id, trim(regexp_replace(lower(t), '\s+', ' ', 'g')) AS canon FROM pl),
        |w AS (SELECT doc_id, string_split(canon, ' ') AS ws FROM c WHERE canon <> ''),
        |ev AS (
        |  SELECT DISTINCT g FROM (
        |    SELECT md5(array_to_string(ws[3:10], ' ')) AS g
        |    FROM w WHERE doc_id % 97 = 0 AND len(ws) >= 10
        |    UNION ALL
        |    SELECT md5('benchmark heldout eval secret phrase alpha beta gamma'))),
        |ng AS (
        |  SELECT doc_id,
        |    unnest(list_transform(generate_series(1, len(ws) - 7),
        |      i -> md5(array_to_string(ws[i:i+7], ' ')))) AS g
        |  FROM w WHERE len(ws) >= 8),
        |hits AS (SELECT ng.doc_id, count(*) AS n_hits FROM ng JOIN ev ON ng.g = ev.g GROUP BY 1)
        |SELECT d.doc_id, coalesce(h.n_hits, 0) AS n_hits,
        |  coalesce(h.n_hits, 0) > 0 AS contaminated
        |FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id""".stripMargin),

    /** GPT-style sequence packing: each source's documents are concatenated
      * in doc order and chopped into 256-token context windows (documents
      * cross bin boundaries — zero padding waste). The placement is one
      * distributed prefix sum per source stream (operators.SeqPack /
      * PrefixSum — no whole-stream window task even when one crawl
      * dominates the corpus) plus map-side arithmetic.
      */
    Query("text_pack_sequences", (s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          TextAnalysis.wordCountOf(TextAnalysis.words(col("text")))
            .cast("long").as("n_tokens"))
        .filter(col("n_tokens") > 0)
      graft.operators.SeqPack.pack(docs, "source", "doc_id", "n_tokens", 256)
        .select(col("doc_id"), col("source"), col("n_tokens"),
          col("start_off"), col("bin_first"), col("bin_last"))
    },
      """WITH c AS (
        |  SELECT doc_id, source,
        |    trim(regexp_replace(lower(coalesce(text, '')), '\s+', ' ', 'g')) AS canon
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, source, CAST(len(string_split(canon, ' ')) AS BIGINT) AS n_tokens
        |  FROM c WHERE canon <> ''),
        |o AS (
        |  SELECT doc_id, source, n_tokens,
        |    coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_off
        |  FROM w)
        |SELECT doc_id, source, n_tokens, CAST(start_off AS BIGINT) AS start_off,
        |  CAST(start_off // 256 AS BIGINT) AS bin_first,
        |  CAST((start_off + n_tokens - 1) // 256 AS BIGINT) AS bin_last
        |FROM o""".stripMargin),

    /** TF-IDF term weighting over the corpus: per-(doc, term) frequency,
      * corpus document frequency, and tf * ln(N/df). The classic
      * shuffle-heavy corpus statistic: one explode (fan-out bounded by doc
      * length), one (doc_id, term)-keyed partial agg for TF, one
      * term-keyed partial agg for DF. The DF side is vocabulary-sized —
      * orders of magnitude below the corpus — so AQE broadcasts it at any
      * realistic vocab size; if a vocabulary ever outgrew broadcast the
      * join stays a skew-aware shuffle (stopword terms are the skewed
      * keys, and AQE skew-join splits them). The corpus row count is one
      * metadata-cheap aggregate, computed once per invocation, not a data
      * collect.
      */
    Query("text_tfidf", (s, dir) => {
      val docs = t(s, dir, "documents")
      val nDocs = docs.count()
      val terms = docs
        .select(col("doc_id"), explode(TextAnalysis.words(col("text"))).as("term"))
        .filter(col("term") =!= "")
      val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      // sum(least(tf, 1)) == row count per term (tf >= 1 by construction),
      // written so the optimizer cannot prove tf unused: a plain count
      // would let RemoveRedundantAggregates collapse this branch into a
      // bare distinct, the two subtrees would no longer canonicalize
      // equal, and AQE could not reuse the (doc_id, term) shuffle — the
      // corpus would be scanned and exploded twice instead of once
      val df = tf.groupBy("term")
        .agg(coalesce(sum(least(col("tf"), lit(1L))), lit(0L)).as("df"))
      tf.join(df, Seq("term"))
        .select(col("doc_id"), col("term"), col("tf"), col("df"),
          round(col("tf") * log(lit(nDocs.toDouble) / col("df")), 4).as("tfidf"))
    },
      """WITH c AS (
        |  SELECT doc_id,
        |    trim(regexp_replace(lower(coalesce(text, '')), '\s+', ' ', 'g')) AS canon
        |  FROM documents),
        |w AS (SELECT doc_id, unnest(string_split(canon, ' ')) AS term FROM c WHERE canon <> ''),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM w GROUP BY 1, 2),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents)
        |SELECT tf.doc_id, tf.term, tf.tf, df.df,
        |  round(tf.tf * ln(n.n_docs / df.df), 4) AS tfidf
        |FROM tf JOIN df USING (term), n""".stripMargin),

    /** Quality-weighted deterministic resampling (the DCLM/FineWeb shape):
      * each document is kept with probability equal to its quality score,
      * but the coin flip is a pure function of the doc id — a 24-bit
      * uniform from the id's md5 compared against the score's hex cutoff —
      * so the kept set is byte-identical on every run, engine, and cluster
      * size, and a resumed 100-TB pass re-derives exactly the same sample
      * with zero sampling state. Map-side only: no shuffle, no RNG.
      * Fixed-width lowercase-hex string compare == numeric compare, so
      * both engines decide from the same two hex strings.
      */
    Query("text_quality_sample", (s, dir) => {
      val q = TextAnalysis.qualityScore(col("text"))
      val u6 = substring(md5(col("doc_id").cast("string").cast("binary")), 1, 6)
      val cutoff = qualityCutoff(q)
      tWide(s, dir, "documents").select(
        col("doc_id"), q.as("quality"), u6.as("u6"),
        (q >= 1.0 || u6 < cutoff).as("kept"))
    },
      {
        val stops = TextAnalysis.Stopwords.map(w => s"'$w'").mkString(", ")
        """WITH c AS (
          |  SELECT doc_id, coalesce(text, '') AS raw,
          |    trim(regexp_replace(lower(coalesce(text, '')), '\s+', ' ', 'g')) AS canon
          |  FROM documents),
          |f AS (
          |  SELECT doc_id, raw,
          |    CASE WHEN length(canon) = 0 THEN 0 ELSE len(string_split(canon, ' ')) END AS wc,
          |    string_split(canon, ' ') AS ws
          |  FROM c),
          |q AS (
          |  SELECT doc_id,
          |    round(0.4 * least(CAST(wc AS DOUBLE) / 100.0, 1.0)
          |      + 0.3 * least((CASE WHEN wc = 0 THEN 0.0
          |          ELSE CAST(len(list_filter(ws, x -> x IN (STOPS))) AS DOUBLE) / wc END) * 5.0, 1.0)
          |      + 0.3 * greatest(1.0 - (CASE WHEN length(raw) = 0 THEN 0.0
          |          ELSE CAST(length(raw) - length(regexp_replace(raw, '[^a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)
          |               / length(raw) END) * 4.0, 0.0), 4) AS quality,
          |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 6) AS u6
          |  FROM f)
          |SELECT doc_id, quality, u6,
          |  quality >= 1.0 OR u6 < QCUT AS kept
          |FROM q""".stripMargin.replace("QCUT", qualityCutoffSql("quality")).replace("STOPS", stops)
      }),

    /** Deterministic training-order shard plan: a global pseudo-random
      * permutation of the corpus (order by the id's md5) cut into shards,
      * with each document's 1-based position inside its shard. Training at
      * 100 TB needs exactly this — a reproducible shuffle each worker can
      * re-derive — and a shard there holds billions of documents, so the
      * within-shard rank goes through the distributed prefix-sum kernel
      * (operators.PrefixSum): no task ever owns a whole shard, unlike a
      * row_number window partitioned by shard.
      */
    Query("text_shard_plan", (s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"),
          md5(col("doc_id").cast("string").cast("binary")).as("h"))
        .withColumn("shard", substring(col("h"), 1, 1))
      graft.operators.PrefixSum
        .withinKeys(docs, Seq("shard"), Seq("h", "doc_id"), lit(1L), "ord")
        .select(col("doc_id"), col("shard"), col("ord"))
    },
      """WITH h AS (
        |  SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h,
        |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS shard
        |  FROM documents)
        |SELECT doc_id, shard,
        |  row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) AS ord
        |FROM h""".stripMargin),

    /** Sketch statistics — the approximate aggregates a 100-TB corpus is
      * actually profiled with: HyperLogLog++ distinct fingerprints and a
      * quantile sketch per source, each checked against its exact twin
      * with a driver-verified error bound (the recall-floor pattern the
      * ann_* queries use). At scale the sketches are the only viable path
      * — exact distinct shuffles every fingerprint, while HLL ships a
      * fixed few-KB register set per group through the partial agg; the
      * exact twins here exist to make the bound checkable at test scale.
      * Both sketches are hash-based and deterministic, so the booleans
      * are stable across runs and engines.
      */
    Query("text_sketch_stats", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("source"), col("n_chars"),
        TextAnalysis.docFingerprint(col("text")).as("fp"))
      docs.groupBy("source").agg(
        countDistinct(col("fp")).as("exact_distinct"),
        approx_count_distinct(col("fp"), 0.02).as("apx_distinct"),
        expr("percentile(n_chars, 0.5)").as("exact_p50"),
        expr("approx_percentile(n_chars, 0.5, 10000)").as("apx_p50"))
        .select(col("source"), col("exact_distinct"),
          (abs(col("apx_distinct") - col("exact_distinct")) <=
            col("exact_distinct") * 0.05).as("distinct_ok"),
          (abs(col("apx_p50") - col("exact_p50")) <=
            col("exact_p50") * 0.05).as("p50_ok"))
    },
      """SELECT source,
        |  count(DISTINCT md5(trim(regexp_replace(lower(coalesce(text, '')), '\s+', ' ', 'g'))))
        |    AS exact_distinct,
        |  true AS distinct_ok, true AS p50_ok
        |FROM documents GROUP BY source""".stripMargin),

    /** The whole curation story composed end-to-end, the way a 100-TB
      * pretraining ingest actually runs it: exact dedup (min-id survivor
      * per content fingerprint) -> benchmark decontamination (drop any doc
      * with an eval 8-gram hit) -> language-mixture + quality-weighted
      * sampling (independently SALTED deterministic uniforms — the
      * standalone queries share one hash prefix, a composed pipeline must
      * not correlate its sampling decisions) -> deterministic
      * training-order shard plan over the final kept set. Every stage is
      * the scale-safe variant its standalone query documents; the
      * composition adds no new shuffle beyond its parts.
      */
    Query("text_curation_pipeline", (s, dir) => {
      import s.implicits._
      val docs = tWide(s, dir, "documents")
      val fp = docs.select(col("doc_id"), col("lang"), col("text"),
        TextAnalysis.docFingerprint(col("text")).as("fp"))
      val survivors = fp.join(
        fp.groupBy("fp").agg(min("doc_id").as("doc_id")), Seq("fp", "doc_id"))
      val clean = survivors
        .join(decontaminationHits(s, dir), Seq("doc_id"), "left_anti")
      // the SHARED quota table (one edit point with text_mixture_sample and
      // both oracle twins — a local copy could silently desynchronize)
      val quotas = mixtureQuotasDf(s)
      def salted(salt: String, len: Int) = substring(
        md5(concat(lit(salt), col("doc_id").cast("string")).cast("binary")), 1, len)
      val q = TextAnalysis.qualityScore(col("text"))
      val qCut = qualityCutoff(q)
      val sampled = clean.join(broadcast(quotas), Seq("lang"))
        .filter(salted("mix:", 2) <= col("cutoff") &&
          (q >= 1.0 || salted("q:", 6) < qCut))
      val sharded = sampled
        .select(col("doc_id"), col("lang"), salted("shard:", 32).as("h"))
        .withColumn("shard", substring(col("h"), 1, 1))
      graft.operators.PrefixSum
        .withinKeys(sharded, Seq("shard"), Seq("h", "doc_id"), lit(1L), "ord")
        .select(col("doc_id"), col("lang"), col("shard"), col("ord"))
    },
      {
        val stops = TextAnalysis.Stopwords.map(w => s"'$w'").mkString(", ")
        """WITH c AS (
          |  SELECT doc_id, lang, coalesce(text, '') AS raw,
          |    trim(regexp_replace(lower(coalesce(text, '')), '\s+', ' ', 'g')) AS canon
          |  FROM documents),
          |surv AS (
          |  SELECT doc_id, lang, raw, canon FROM (
          |    SELECT doc_id, lang, raw, canon,
          |      min(doc_id) OVER (PARTITION BY md5(canon)) AS keep_id
          |    FROM c)
          |  WHERE doc_id = keep_id),
          |pl AS (
          |  SELECT doc_id, coalesce(text, '') ||
          |    CASE WHEN doc_id % 31 = 0
          |      THEN ' benchmark heldout eval secret phrase alpha beta gamma'
          |      ELSE '' END AS t
          |  FROM documents),
          |c2 AS (SELECT doc_id, trim(regexp_replace(lower(t), '\s+', ' ', 'g')) AS canon FROM pl),
          |w AS (SELECT doc_id, string_split(canon, ' ') AS ws FROM c2 WHERE canon <> ''),
          |ev AS (
          |  SELECT DISTINCT g FROM (
          |    SELECT md5(array_to_string(ws[3:10], ' ')) AS g
          |    FROM w WHERE doc_id % 97 = 0 AND len(ws) >= 10
          |    UNION ALL
          |    SELECT md5('benchmark heldout eval secret phrase alpha beta gamma'))),
          |ng AS (
          |  SELECT doc_id,
          |    unnest(list_transform(generate_series(1, len(ws) - 7),
          |      i -> md5(array_to_string(ws[i:i+7], ' ')))) AS g
          |  FROM w WHERE len(ws) >= 8),
          |hits AS (SELECT DISTINCT ng.doc_id FROM ng JOIN ev ON ng.g = ev.g),
          |clean AS (
          |  SELECT s.* FROM surv s LEFT JOIN hits h ON s.doc_id = h.doc_id
          |  WHERE h.doc_id IS NULL),
          |f AS (
          |  SELECT doc_id, lang, raw,
          |    CASE WHEN length(canon) = 0 THEN 0 ELSE len(string_split(canon, ' ')) END AS wc,
          |    string_split(canon, ' ') AS ws
          |  FROM clean),
          |qt AS (
          |  SELECT doc_id, lang,
          |    round(0.4 * least(CAST(wc AS DOUBLE) / 100.0, 1.0)
          |      + 0.3 * least((CASE WHEN wc = 0 THEN 0.0
          |          ELSE CAST(len(list_filter(ws, x -> x IN (STOPS))) AS DOUBLE) / wc END) * 5.0, 1.0)
          |      + 0.3 * greatest(1.0 - (CASE WHEN length(raw) = 0 THEN 0.0
          |          ELSE CAST(length(raw) - length(regexp_replace(raw, '[^a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)
          |               / length(raw) END) * 4.0, 0.0), 4) AS quality
          |  FROM f),
          |wq(lang, cutoff) AS (
          |  VALUES QUOTAS),
          |kept AS (
          |  SELECT qt.doc_id, qt.lang FROM qt JOIN wq ON qt.lang = wq.lang
          |  WHERE substr(md5('mix:' || CAST(qt.doc_id AS VARCHAR)), 1, 2) <= wq.cutoff
          |    AND (qt.quality >= 1.0 OR
          |      substr(md5('q:' || CAST(qt.doc_id AS VARCHAR)), 1, 6)
          |        < QCUT))
          |SELECT doc_id, lang,
          |  substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 1) AS shard,
          |  row_number() OVER (
          |    PARTITION BY substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 1)
          |    ORDER BY md5('shard:' || CAST(doc_id AS VARCHAR)), doc_id) AS ord
          |FROM kept""".stripMargin.replace("STOPS", stops)
          .replace("QUOTAS", MixtureQuotasSqlValues)
          .replace("QCUT", qualityCutoffSql("qt.quality"))
      }),

    /** Small-file compaction roundtrip (plans.Compaction): the documents
      * table is first written DELIBERATELY fragmented (32-way round-robin
      * — historical write parallelism), then compacted into four
      * range-laid-out files sorted by doc_id. The flags pin every
      * invariant the maintenance pass must preserve: exact content (count
      * + order-free xxhash64 checksum vs the fragmented input), file
      * count actually reduced to the target, and per-file DISJOINT
      * sort-key ranges — the property that lets a later scan prune whole
      * files from parquet footer min/max stats.
      */
    Query("q_compact_roundtrip", (s, dir) => {
      val appId = s.sparkContext.applicationId.replaceAll("[^A-Za-z0-9]", "_")
      val sfName = dir.replaceAll("[^A-Za-z0-9]", "_")
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_compact_${appId}_$sfName"
      registerCleanup(root)
      sweepStaleSiblings(
        java.nio.file.Paths.get(System.getProperty("java.io.tmpdir")), "graft_compact_")
      val src = t(s, dir, "documents")
      src.repartition(32).write.mode("overwrite").parquet(s"$root/frag")
      // ONE pass per side: the per-file aggregate carries row count,
      // order-free content checksum AND the sort-key range together (xor
      // of per-file xors == the global xor, sum of per-file counts == n),
      // so each directory is read once instead of the previous
      // count + checksum + ranges trio of scans; the compactor reuses the
      // already-known row count as a hint for the same reason.
      def fileStats(df: DataFrame) = {
        val cs = df.columns.sorted.map(col).toSeq
        df.groupBy(input_file_name().as("f"))
          .agg(count(lit(1)).as("n"),
            coalesce(bit_xor(xxhash64(cs: _*)), lit(0L)).as("x"),
            min("doc_id").as("lo"), max("doc_id").as("hi"))
          .collect() // one row per part file — bounded
      }
      val fragStats = fileStats(s.read.parquet(s"$root/frag"))
      val n = fragStats.map(_.getLong(1)).sum
      val fragChk = fragStats.map(_.getLong(2)).foldLeft(0L)(_ ^ _)
      val st = graft.plans.Compaction.compact(
        s, s"$root/frag", s"$root/compacted", "doc_id",
        math.max(1L, (n + 3) / 4), rowsHint = n)
      val outStats = fileStats(s.read.parquet(s"$root/compacted")).sortBy(_.getLong(3))
      val nOut = outStats.map(_.getLong(1)).sum
      val outChk = outStats.map(_.getLong(2)).foldLeft(0L)(_ ^ _)
      val disjoint = outStats.sliding(2).forall {
        case Array(a, b) => a.getLong(4) < b.getLong(3)
        case _ => true
      }
      s.range(1).select(
        lit(n).as("n_rows"),
        lit(st.rows == n && nOut == n && outChk == fragChk).as("rows_preserved"),
        lit(st.filesBefore > st.filesAfter && st.filesAfter <= 4).as("files_bounded"),
        lit(disjoint && outStats.length == st.filesAfter).as("range_disjoint"))
    },
      """SELECT CAST(count(*) AS BIGINT) AS n_rows, true AS rows_preserved,
        |  true AS files_bounded, true AS range_disjoint
        |FROM documents""".stripMargin),

    /** Backward as-of join (AsofJoin.asof): each purchase event attached
      * to the user's most recent signup at-or-before it (the crawl-side
      * shape: each fetched page joined to the domain policy snapshot in
      * force at its warc_ts). Union-scan implementation — one sort
      * shuffle by key, no range theta join — against DuckDB's NATIVE
      * ASOF LEFT JOIN as the oracle, so the semantics (inclusive bound,
      * greatest preceding, NULLs when nothing precedes) are pinned to an
      * independent reference implementation.
      */
    Query("q_asof_join", (s, dir) => {
      val e = t(s, dir, "events")
      val purchases = e.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts", "value")
      val signups = e.filter(col("event_type") === "signup")
        .select("user_id", "ts", "event_id", "value")
      graft.operators.AsofJoin.asof(
        purchases, signups, "user_id", "ts", "ts", "event_id", Seq("ts", "value"))
    },
      """SELECT l.event_id, l.user_id, l.ts, l.value,
        |  r.ts AS asof_ts, r.value AS asof_value
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') l
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') r
        |  ON l.user_id = r.user_id AND l.ts >= r.ts""".stripMargin),

    /** Line-level boilerplate removal over planted page chrome: every
      * document is wrapped in a per-source subscribe header and copyright
      * footer (so each boilerplate line recurs across the source's whole
      * corpus slice), then Dedup.lineDedup drops lines appearing in >= 10
      * distinct documents and reassembles the page in order. The oracle
      * re-derives document frequencies and the cleaned page in SQL, so it
      * verifies the actual removal and the order-preserving reassembly.
      * (Organic text lines never reach minDf in the shipped test data —
      * max document frequency 2 at sf0.1 — so only the planted chrome is
      * exercised here; the organic-frequency case is pinned by the
      * DedupSpec hand corpus instead.)
      */
    Query("text_line_dedup", (s, dir) => {
      val d = t(s, dir, "documents")
      val src = coalesce(col("source"), lit(""))
      val page = concat(
        lit("subscribe to the "), src, lit(" newsletter\n"),
        Normalize.emptyIfNull(col("text")),
        lit("\ncopyright 2026 "), src, lit(" media group"))
      graft.operators.Dedup.lineDedup(
        d.select(col("doc_id"), page.as("page")), "doc_id", "page", minDf = 10)
    },
      """WITH p AS (
        |  SELECT doc_id,
        |    'subscribe to the ' || coalesce(source, '') || ' newsletter' || chr(10) ||
        |    coalesce(text, '') || chr(10) ||
        |    'copyright 2026 ' || coalesce(source, '') || ' media group' AS page
        |  FROM documents),
        |l0 AS (SELECT doc_id, string_split(page, chr(10)) AS ls FROM p),
        |x AS (SELECT doc_id, ls, unnest(generate_series(1, len(ls))) AS pos FROM l0),
        |lines AS (SELECT doc_id, pos, ls[pos] AS line FROM x),
        |hot AS (
        |  SELECT line FROM (
        |    SELECT line, count(DISTINCT doc_id) AS df FROM lines GROUP BY line)
        |  WHERE df >= 10)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |  string_agg(line, chr(10) ORDER BY pos) AS clean_text
        |FROM lines WHERE line NOT IN (SELECT line FROM hot)
        |GROUP BY doc_id""".stripMargin),

    /** URL canonicalization over planted variant URLs: each document gets
      * a deterministic base URL plus four surface variants — uppercased
      * scheme+host, explicit default :443 port, tracking-only query
      * string, and a mixed query (tracking params flanking a real one)
      * with a fragment. The first four MUST collapse to the base
      * canonical form and the fifth must keep exactly its real param, so
      * the oracle verifies both the collapsing and that genuine query
      * params survive delimiter repair. Pure Catalyst (regex in the
      * Java/RE2 common subset), whole-stage codegen, one hash-agg
      * shuffle on doc_id — at 100 TB this is the crawl-side
      * dedup-by-address pass that runs before any content hashing.
      */
    Query("text_url_canonical", (s, dir) => {
      val d = t(s, dir, "documents")
      val id = col("doc_id").cast("string")
      val src = coalesce(col("source"), lit("")) // NULL source: engines differ on NULL concat+countDistinct
      val base = concat(lit("https://www."), src, lit(".example.com/docs/"), id)
      val variants = array(
        base,
        concat(lit("HTTPS://WWW."), upper(src), lit(".EXAMPLE.COM/docs/"), id),
        concat(lit("https://www."), src, lit(".example.com:443/docs/"), id),
        concat(base, lit("?utm_source=feed&utm_campaign=sync")),
        concat(base, lit("?utm_medium=rss&page=2&ref=home#frag")))
      d.select(col("doc_id"), explode(variants).as("url"))
        .select(col("doc_id"), TextAnalysis.canonicalUrl(col("url")).as("canon"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_variants"),
          countDistinct(col("canon")).as("n_canonical"),
          min(col("canon")).as("canon_min"),
          max(col("canon")).as("canon_max"))
    },
      """WITH v AS (
        |  SELECT doc_id, unnest([
        |    'https://www.' || coalesce(source, '') || '.example.com/docs/' || CAST(doc_id AS VARCHAR),
        |    'HTTPS://WWW.' || upper(coalesce(source, '')) || '.EXAMPLE.COM/docs/' || CAST(doc_id AS VARCHAR),
        |    'https://www.' || coalesce(source, '') || '.example.com:443/docs/' || CAST(doc_id AS VARCHAR),
        |    'https://www.' || coalesce(source, '') || '.example.com/docs/' || CAST(doc_id AS VARCHAR)
        |      || '?utm_source=feed&utm_campaign=sync',
        |    'https://www.' || coalesce(source, '') || '.example.com/docs/' || CAST(doc_id AS VARCHAR)
        |      || '?utm_medium=rss&page=2&ref=home#frag'
        |  ]) AS url FROM documents),
        |p AS (
        |  SELECT doc_id,
        |    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |    lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS host0,
        |    regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^#]*)', 1) AS rest0
        |  FROM v),
        |n AS (
        |  SELECT doc_id, scheme || '://' ||
        |    CASE WHEN scheme = 'http' THEN regexp_replace(host0, ':80$', '')
        |         WHEN scheme = 'https' THEN regexp_replace(host0, ':443$', '')
        |         ELSE host0 END ||
        |    regexp_replace(regexp_extract(rest0, '^([^?]*)', 1), '^/$', '') ||
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |      regexp_extract(rest0, '(\?.*)$', 1),
        |      '([?&])(?:utm_[A-Za-z0-9_]+|fbclid|gclid|msclkid|ref)=[^&]*', '\1', 'g'),
        |      '[?&]+$', ''), '\?[?&]+', '?', 'g'), '&&+', '&', 'g') AS canon
        |  FROM p)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_variants,
        |  CAST(count(DISTINCT canon) AS BIGINT) AS n_canonical,
        |  min(canon) AS canon_min, max(canon) AS canon_max
        |FROM n GROUP BY doc_id""".stripMargin),

    /** Per-domain corpus rollup: registered domain extracted from the
      * planted URL (authority → port and www. stripped → last two
      * labels), then doc count, distinct languages, and char volume per
      * domain. One partial-agg shuffle on a low-cardinality key — the
      * crawl-stats / domain-blocklist pass of a curation pipeline.
      */
    Query("text_domain_stats", (s, dir) => {
      val d = t(s, dir, "documents")
      val url = concat(lit("https://www.crawl."), coalesce(col("source"), lit("")),
        lit(".net:443/item/"), col("doc_id").cast("string"))
      d.select(TextAnalysis.registeredDomain(url).as("domain"), col("lang"), col("n_chars"))
        .groupBy(col("domain"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("lang")).as("n_langs"),
          sum(col("n_chars")).as("sum_chars"),
          round(avg(col("n_chars")), 2).as("mean_chars"))
    },
      """WITH h AS (
        |  SELECT regexp_extract(
        |    regexp_replace(regexp_replace(
        |      lower('www.crawl.' || coalesce(source, '') || '.net:443'), ':[0-9]+$', ''), '^www\.', ''),
        |    '([^.]+\.[^.]+)$', 1) AS domain, lang, n_chars
        |  FROM documents)
        |SELECT domain, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  round(avg(n_chars), 2) AS mean_chars
        |FROM h GROUP BY domain""".stripMargin),

    // ---------------------------------------------------------------------
    // Multimodal: opaque binary columns, real decoders for every kind
    // ---------------------------------------------------------------------

    /** Binary-column plumbing: payload bytes + content hash (schema shape of
      * an image/audio/video table; the decode stages are the real
      * Multimodal decoders below).
      */
    Query("mm_binary_meta", (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        length(encode(col("text"), "UTF-8")).as("n_bytes"),
        md5(col("text")).as("content_md5")),
      "SELECT doc_id, octet_length(encode(text)) AS n_bytes, md5(text) AS content_md5 FROM documents"),

    /** REAL media decode (no stub): synthesize a valid uncompressed 24-bit
      * BMP per doc_id (dims/channels are closed-form functions of the id),
      * run it through the pure-JVM BMP parser (header validation, bottom-up
      * padded rows), report dims + byte size + per-channel means. The oracle
      * recomputes every stat algebraically — a decoder that mis-parses the
      * header, the 4-byte row padding, or the BGR pixel order fails the
      * hash. The R channel carries an x-gradient so the means depend on
      * actual pixel traversal, not just the header.
      */
    Query("mm_decode", (s, dir) => {
      import s.implicits._
      import graft.operators.Multimodal
      // explicit spread: the decode cost is per-ROW, not per-byte — on a
      // single-split scan the whole synth+decode pass would run in one task
      val payloads = t(s, dir, "documents").select(col("doc_id")).repartition(Par.spread(s)).as[Long]
        .map(id => (id, Multimodal.syntheticBmp(id)))
        .toDF("doc_id", "payload")
      Multimodal.decodeBmpStats(payloads)
        .select(col("doc_id"), col("width"), col("height"), col("n_bytes"),
          round(col("mean_r"), 4).as("mean_r"),
          round(col("mean_g"), 4).as("mean_g"),
          round(col("mean_b"), 4).as("mean_b"))
    },
      """SELECT doc_id,
        |  CAST(1 + doc_id % 16 AS INT) AS width,
        |  CAST(1 + doc_id % 8 AS INT) AS height,
        |  CAST(54 + (1 + doc_id % 8) * ((((1 + doc_id % 16) * 3 + 3) // 4) * 4) AS BIGINT) AS n_bytes,
        |  round((doc_id % 200) + (doc_id % 16) / 2.0, 4) AS mean_r,
        |  round(CAST((doc_id * 3 + 7) % 256 AS DOUBLE), 4) AS mean_g,
        |  round(CAST((doc_id * 5 + 11) % 256 AS DOUBLE), 4) AS mean_b
        |FROM documents""".stripMargin),

    /** Compressed-image decode through the JDK's real codecs: synthesize a
      * valid PNG per doc_id (same closed-form pixel algebra as mm_decode —
      * PNG is lossless, so the stats reproduce exactly), decode it with
      * javax.imageio (zlib inflate, filter reconstruction, color model),
      * report dims + channel means. The oracle recomputes every stat
      * algebraically; a decode regression anywhere in the PNG path fails
      * the hash. byte size is NOT reported — deflate output length has no
      * closed form, which is exactly why this query exists separately from
      * the BMP one.
      */
    Query("mm_decode_png", (s, dir) => {
      import s.implicits._
      import graft.operators.Multimodal
      // explicit spread: the decode cost is per-ROW, not per-byte — on a
      // single-split scan the whole synth+decode pass would run in one task
      val payloads = t(s, dir, "documents").select(col("doc_id")).repartition(Par.spread(s)).as[Long]
        .map(id => (id, Multimodal.syntheticPng(id)))
        .toDF("doc_id", "payload")
      Multimodal.decodeImageStats(payloads)
        .select(col("doc_id"), col("width"), col("height"),
          round(col("mean_r"), 4).as("mean_r"),
          round(col("mean_g"), 4).as("mean_g"),
          round(col("mean_b"), 4).as("mean_b"))
    },
      """SELECT doc_id,
        |  CAST(1 + doc_id % 16 AS INT) AS width,
        |  CAST(1 + doc_id % 8 AS INT) AS height,
        |  round((doc_id % 200) + (doc_id % 16) / 2.0, 4) AS mean_r,
        |  round(CAST((doc_id * 3 + 7) % 256 AS DOUBLE), 4) AS mean_g,
        |  round(CAST((doc_id * 5 + 11) % 256 AS DOUBLE), 4) AS mean_b
        |FROM documents""".stripMargin),

    /** REAL multi-frame sampling: synthesize an animated GIF per doc_id
      * (frame count / dims / per-frame solid colors are closed-form
      * functions of the id), decode the container with the JDK's GIF
      * reader (LZW, palettes, frame enumeration), sample every 2nd frame,
      * report frame count + dims + channel means over the sampled frames —
      * the sample-every-Nth-frame shape of a video feature pipeline on a
      * container the JVM genuinely decodes. The oracle recomputes the
      * sampled-frame means with modular arithmetic over the frame index.
      */
    Query("mm_decode_gif", (s, dir) => {
      import s.implicits._
      import graft.operators.Multimodal
      // explicit spread: the decode cost is per-ROW, not per-byte — on a
      // single-split scan the whole synth+decode pass would run in one task
      val payloads = t(s, dir, "documents").select(col("doc_id")).repartition(Par.spread(s)).as[Long]
        .map(id => (id, Multimodal.syntheticGif(id)))
        .toDF("doc_id", "payload")
      Multimodal.decodeGifStats(payloads, stride = 2)
        .select(col("doc_id"), col("n_frames"), col("width"), col("height"),
          col("n_sampled"),
          round(col("mean_r"), 4).as("mean_r"),
          round(col("mean_g"), 4).as("mean_g"),
          round(col("mean_b"), 4).as("mean_b"))
    },
      """SELECT doc_id,
        |  CAST(1 + doc_id % 8 AS INT) AS n_frames,
        |  CAST(2 + doc_id % 8 AS INT) AS width,
        |  CAST(2 + doc_id % 4 AS INT) AS height,
        |  CAST((2 + doc_id % 8) // 2 AS INT) AS n_sampled,
        |  round(list_aggregate(list_transform(
        |      generate_series(0, CAST((doc_id % 8) // 2 AS INT)),
        |      j -> CAST((doc_id * 7 + 26 * j) % 256 AS DOUBLE)), 'avg'), 4) AS mean_r,
        |  round(CAST((doc_id * 3 + 11) % 256 AS DOUBLE), 4) AS mean_g,
        |  round(CAST((doc_id * 5 + 29) % 256 AS DOUBLE), 4) AS mean_b
        |FROM documents""".stripMargin),

    /** REAL video decode: synthesize an MJPEG-in-AVI file per doc_id (frame
      * count / dims / per-frame solid grays are closed-form functions of
      * the id), walk the RIFF container, decode every 2nd frame through
      * the JDK's JPEG codec, report frame count + dims + channel means over
      * the sampled frames. Solid-gray frames are the one class baseline
      * JPEG reproduces byte-exactly (spec-verified for all 256 grays), so
      * the oracle recomputes the lossy-codec stats algebraically — same
      * discipline as mm_decode_gif, on a genuine video container.
      */
    Query("mm_decode_avi", (s, dir) => {
      import s.implicits._
      import graft.operators.Multimodal
      // explicit spread: the decode cost is per-ROW, not per-byte — on a
      // single-split scan the whole synth+decode pass would run in one task
      val payloads = t(s, dir, "documents").select(col("doc_id")).repartition(Par.spread(s)).as[Long]
        .map(id => (id, Multimodal.syntheticAvi(id)))
        .toDF("doc_id", "payload")
      Multimodal.decodeAviStats(payloads, stride = 2)
        .select(col("doc_id"), col("n_frames"), col("width"), col("height"),
          col("n_sampled"),
          round(col("mean_r"), 4).as("mean_r"),
          round(col("mean_g"), 4).as("mean_g"),
          round(col("mean_b"), 4).as("mean_b"))
    },
      """SELECT doc_id,
        |  CAST(1 + doc_id % 8 AS INT) AS n_frames,
        |  CAST(4 + doc_id % 8 AS INT) AS width,
        |  CAST(4 + doc_id % 4 AS INT) AS height,
        |  CAST((2 + doc_id % 8) // 2 AS INT) AS n_sampled,
        |  round(list_aggregate(list_transform(
        |      generate_series(0, CAST((doc_id % 8) // 2 AS INT)),
        |      j -> CAST((doc_id * 7 + 26 * j) % 256 AS DOUBLE)), 'avg'), 4) AS mean_r,
        |  round(list_aggregate(list_transform(
        |      generate_series(0, CAST((doc_id % 8) // 2 AS INT)),
        |      j -> CAST((doc_id * 7 + 26 * j) % 256 AS DOUBLE)), 'avg'), 4) AS mean_g,
        |  round(list_aggregate(list_transform(
        |      generate_series(0, CAST((doc_id % 8) // 2 AS INT)),
        |      j -> CAST((doc_id * 7 + 26 * j) % 256 AS DOUBLE)), 'avg'), 4) AS mean_b
        |FROM documents""".stripMargin),

    /** Second real decoder, audio: synthesize a valid mono 16-bit PCM WAV
      * per doc_id (linear amplitude ramp — closed-form stats), parse it with
      * the pure-JVM RIFF/PCM reader (chunk walk, fmt validation), report
      * rate/shape/byte/amplitude stats. Same oracle discipline as mm_decode:
      * every value is recomputed algebraically by DuckDB.
      */
    Query("mm_decode_wav", (s, dir) => {
      import s.implicits._
      import graft.operators.Multimodal
      // explicit spread: the decode cost is per-ROW, not per-byte — on a
      // single-split scan the whole synth+decode pass would run in one task
      val payloads = t(s, dir, "documents").select(col("doc_id")).repartition(Par.spread(s)).as[Long]
        .map(id => (id, Multimodal.syntheticWav(id)))
        .toDF("doc_id", "payload")
      Multimodal.decodeWavStats(payloads)
        .select(col("doc_id"), col("sample_rate"), col("n_channels"),
          col("n_samples"), col("n_bytes"),
          round(col("mean_amp"), 4).as("mean_amp"), col("peak_amp"))
    },
      """SELECT doc_id,
        |  CAST(8000 AS INT) AS sample_rate,
        |  CAST(1 AS INT) AS n_channels,
        |  CAST(16 + doc_id % 64 AS BIGINT) AS n_samples,
        |  CAST(44 + (16 + doc_id % 64) * 2 AS BIGINT) AS n_bytes,
        |  round((doc_id % 100) * 10 + (15 + doc_id % 64) / 2.0, 4) AS mean_amp,
        |  CAST((doc_id % 100) * 10 + 15 + doc_id % 64 AS INT) AS peak_amp
        |FROM documents""".stripMargin),

    // ---------------------------------------------------------------------
    // Structured Streaming (batch-equivalence oracles)
    // ---------------------------------------------------------------------

    /** Streaming ingestion dedup with watermark-bounded state
      * (dropDuplicatesWithinWatermark keyed by content fingerprint); the
      * planted cross-batch duplicates collapse to one survivor per
      * fingerprint, so the oracle is DISTINCT over the raw table.
      */
    Query("stream_dedup", (s, dir) =>
      graft.streaming.StreamingOps.dedupDocuments(s, s"$dir/documents.parquet"),
      """SELECT DISTINCT
        |  md5(trim(regexp_replace(lower(coalesce(text, '')), '\s+', ' ', 'g'))) AS fp,
        |  CAST(1 AS BIGINT) AS n_kept
        |FROM documents""".stripMargin),

    /** Tumbling-window streaming aggregation driven to completion with
      * Trigger.AvailableNow; oracle = the batch equivalent via time_bucket.
      */
    Query("stream_windowed_agg", (s, dir) =>
      graft.streaming.StreamingOps.windowedEventAgg(s, s"$dir/events.parquet"),
      """SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start, event_type,
        |  count(*) AS n, round(sum(value), 2) AS total_value
        |FROM events GROUP BY 1, 2""".stripMargin),

    /** Custom streaming state (flatMapGroupsWithState): first event per
      * user, first-seen-wins.
      */
    Query("stream_first_seen", (s, dir) =>
      graft.streaming.StreamingOps.firstSeenPerUser(s, s"$dir/events.parquet"),
      """SELECT user_id, event_id, ts, event_type, round(value, 2) AS value
        |FROM (SELECT user_id, event_id, ts, event_type, value,
        |        ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rk
        |      FROM events)
        |WHERE rk = 1""".stripMargin),

    /** Watermark late-data discard, exercised for real (two ordered input
      * files, the second entirely behind the watermark — see
      * StreamingOps.lateDataWindowedAgg). The oracle encodes BOTH append-
      * mode rules: day-1 (late) rows are absent, and only windows the final
      * watermark (max on-time ts - 1h) closed are emitted.
      */
    Query("stream_late_data", (s, dir) =>
      graft.streaming.StreamingOps.lateDataWindowedAgg(s, s"$dir/events.parquet"),
      """SELECT window_start, n, total_value FROM (
        |  SELECT TIMESTAMP '2026-01-02 00:00:00' + to_hours(event_id % 24) AS window_start,
        |    count(*) AS n, round(sum(value), 2) AS total_value
        |  FROM events WHERE event_id % 5 = 0 GROUP BY 1)
        |WHERE window_start + INTERVAL 1 HOUR <= (
        |  SELECT max(TIMESTAMP '2026-01-02 00:00:00' + to_hours(event_id % 24)) - INTERVAL 1 HOUR
        |  FROM events WHERE event_id % 5 = 0)""".stripMargin),

    /** Stateful sessionization via session_window (10-minute gap). */
    Query("stream_sessionize", (s, dir) =>
      graft.streaming.StreamingOps.sessionize(s, s"$dir/events.parquet", 10),
      """WITH o AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      >= INTERVAL 10 MINUTE THEN 1 ELSE 0 END AS brk
        |  FROM events),
        |s AS (SELECT user_id, ts, value,
        |  sum(brk) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM o)
        |SELECT min(ts) AS session_start, user_id, count(*) AS n_events,
        |  round(sum(value), 2) AS session_value
        |FROM s GROUP BY user_id, sid""".stripMargin),
  )

  val queries: Map[String, Q] = all.map(q => q.name -> q.run).toMap

  val oracleSql: Map[String, String] = all.map(q => q.name -> q.oracleSql).toMap
}
