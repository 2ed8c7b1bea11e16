package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Transitive closure / entity clustering — NEW vs the reference (the
  * reference stops at the pair table, idrt/algorithm/run_search.py:524-536;
  * the north rule adds clustering).
  *
  * Implementation: alternating large-star / small-star (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC'14) — converges in
  * O(log^2 n) rounds independent of component diameter, unlike naive
  * min-label propagation which needs O(diameter) rounds and dies on the
  * long chains duplicate records form (a-b-c-... name-typo chains).
  *
  * Scale notes: each star is expressed as groupBy-min + an equi join back
  * to the edge list — never collect_list, so a super-node (a hot cluster
  * with millions of members) stays distributed across partitions. Rounds
  * are localCheckpoint'ed to cut lineage (SURVEY.md par.7.4).
  */
object Clustering {

  /** Round cap of the star loop (O(log^2 n) rounds converge far below it). */
  private val MaxIter = 50

  /** Edges per shuffle partition of the star loop on large graphs. */
  private val RowsPerPartition = 2000000L

  /** edges: two columns (src, dst) of any orderable type. Returns
    * (node, cluster_id) where cluster_id = min node id in the component.
    * Isolated nodes (absent from edges) are the caller's concern — see
    * clusterAll.
    */
  def connectedComponents(
      edges: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst",
      // 1M edges ~ 16 MB of id pairs, ~200 MB of union-find state worst
      // case — comfortably single-task on any executor, while the star
      // loop below costs a dict-encode sort plus ~5 shuffles per round
      // for O(log^2 n) rounds in pure per-round latency. The cap is an
      // absolute-size dispatch (same decision on any cluster), not a
      // core-count tunable; measured round 6: the 180k-page pipeline's
      // 260k-edge graph spent 9.4 s in the loop vs ~1 s in union-find.
      smallGraphEdgeCap: Long = 1000000L): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._

    // canonical undirected edge set (u < v), self-loops dropped
    var e = edges
      .select(col(srcCol).as("s"), col(dstCol).as("d"))
      .filter($"s" =!= $"d")
      .select(least($"s", $"d").as("u"), greatest($"s", $"d").as("v"))
      .distinct()
      .localCheckpoint(true)

    // order-insensitive edge-set signature: (count, xor of row hashes).
    // One cheap agg job replaces count+count+anti-join per round; a false
    // fixpoint needs a 128-bit collision — negligible vs iteration cost.
    def sig(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)), coalesce(bit_xor(xxhash64($"u", $"v")), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }

    var prevSig = sig(e)

    // Small graphs (edge count already measured for free by the signature)
    // skip the iterative star loop entirely: below the cap, per-ROUND task
    // scheduling latency dominates data cost by orders of magnitude, so a
    // single-task union-find (one shuffle to one partition, one pass,
    // path-compressed) returns the identical min-label components in one
    // job. 200k edges is ~3 MB of pairs — far below any executor budget.
    if (prevSig._1 <= smallGraphEdgeCap) return smallGraphCC(spark, e)

    // Non-numeric keys (urls) are dictionary-encoded to dense longs for
    // the loop: every round shuffles its edge set 4-5 times, so 8-byte
    // ids instead of ~40-byte url strings cut the loop's total shuffle
    // volume ~5x. Ids are RANK-correlated (dense rank of the key in
    // sorted order, via a range-partitioned sort + zipWithIndex — no
    // single-point bottleneck), so id order == key order and the
    // component minimum decodes back to exactly the min key the string
    // loop would have produced. Fixed cost: one sort + two encode joins +
    // two decode joins, each n-sized — repaid after the first round.
    val dict: Option[DataFrame] = e.schema("u").dataType match {
      case _: org.apache.spark.sql.types.NumericType => None
      case keyType =>
        import org.apache.spark.sql.Row
        import org.apache.spark.sql.types.{LongType, StructField, StructType}
        val nodes = e.select($"u".as("n")).unionAll(e.select($"v".as("n"))).distinct()
        val ranked = nodes.orderBy($"n").rdd.zipWithIndex
          .map { case (r, i) => Row(r.get(0), i) }
        val d = spark.createDataFrame(ranked, StructType(Seq(
          StructField("n", keyType), StructField("id", LongType))))
          .localCheckpoint(true)
        e = e
          .join(d.select($"n".as("u"), $"id".as("_uid")), "u")
          .join(d.select($"n".as("v"), $"id".as("_vid")), "v")
          .select($"_uid".as("u"), $"_vid".as("v"))
          .localCheckpoint(true)
        prevSig = sig(e)
        Some(d)
    }
    // Size the loop's shuffle width from the MEASURED edge count (free —
    // the signature already counted): an iterative algorithm pays per-
    // round fixed cost proportional to task count, so a 10k-edge graph on
    // 32-wide shuffles spends more on task churn than on data (measured
    // ~2x on sf0.1), while a 10^10-edge graph needs thousands of
    // partitions regardless of the session default. The width lives in an
    // ISOLATED child session (newSession shares the SparkContext but owns
    // its SQLConf), so concurrent queries on the caller's session never
    // observe it — the checkpointed edge RDD rebases across sessions for
    // free.
    val sessionShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    val p = math.max(1L, math.min(prevSig._1 / RowsPerPartition + 1, 20000L))
    val width = if (prevSig._1 < RowsPerPartition)
      math.min(sessionShuffle.toLong, math.max(1L, prevSig._1 / 50000L + 1L))
    else math.max(p, spark.sparkContext.defaultParallelism.toLong)
    val loopSession = spark.newSession()
    loopSession.conf.set("spark.sql.shuffle.partitions", width.toString)
    e = loopSession.createDataFrame(e.rdd, e.schema)
    var iter = 0
    var converged = false
    while (!converged && iter < MaxIter) {
      // --- large-star: for each node x, attach every strictly-larger
      // neighbor to m(x) = min(N(x) u {x}).
      val nbrs = e.select($"u".as("x"), $"v".as("y"))
        .unionAll(e.select($"v".as("x"), $"u".as("y")))
      val mins = nbrs.groupBy($"x").agg(min($"y").as("mn"))
        .select($"x", least($"x", $"mn").as("m"))
      val large = nbrs.join(mins, "x")
        .filter($"y" > $"x")
        .select($"m".as("u"), $"y".as("v")) // m <= x < y
        .distinct()

      // --- small-star: group canonical edges by the larger endpoint v;
      // m = min of its smaller neighbors; attach v and every non-min
      // smaller neighbor to m.
      val mins2 = large.groupBy($"v").agg(min($"u").as("m"))
      val attachNeighbors = large.join(mins2, "v")
        .filter($"u" =!= $"m")
        .select($"m".as("u"), $"u".as("v"))
      val attachCenter = mins2.select($"m".as("u"), $"v")
      val small = attachNeighbors.unionByName(attachCenter).distinct()

      // 1 job per round: a LAZY localCheckpoint materializes inside the
      // signature agg's action, so lineage cut + convergence check share
      // one job (round latency, not data volume, dominates small inputs)
      val checkpointed = small.localCheckpoint(false)
      val s = sig(checkpointed)
      e = checkpointed
      converged = s == prevSig
      prevSig = s
      iter += 1
    }

    // fixpoint edge set is a star forest rooted at the component minimum
    val members = e.select($"v".as("node"), $"u".as("cluster_id"))
    val roots = e.select($"u".as("node")).distinct()
      .withColumn("cluster_id", $"node")
    // materialize under the loop session (its width), then rebase the
    // result back onto the caller's session
    val res = members.unionByName(roots)
      .groupBy($"node").agg(min($"cluster_id").as("cluster_id"))
      .localCheckpoint(true)
    val rebased = spark.createDataFrame(res.rdd, res.schema)
    // decode long ids back to the original keys; rank-correlation makes
    // the decoded root the component's min key
    dict match {
      case None => rebased
      case Some(d) =>
        rebased
          .join(d.select($"id".as("node"), $"n".as("_nk")), "node")
          .join(d.select($"id".as("cluster_id"), $"n".as("_ck")), "cluster_id")
          .select($"_nk".as("node"), $"_ck".as("cluster_id"))
    }
  }

  /** Single-task exact CC for small edge sets: classic union-find with
    * path compression and union-by-min (the smaller root absorbs, so every
    * root IS its component minimum — same contract as the star loop).
    * Runs as ONE task via coalesce(1).mapPartitions: still executor-side
    * (no driver collect), works for any Comparable key type (long url
    * strings, int keys, ...).
    */
  private def smallGraphCC(
      spark: org.apache.spark.sql.SparkSession, e: DataFrame): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StructField, StructType}
    val keyType = e.schema("u").dataType
    val outSchema = StructType(Seq(
      StructField("node", keyType), StructField("cluster_id", keyType)))
    val rows = e.rdd.coalesce(1).mapPartitions { it =>
      val parent = new java.util.HashMap[Any, Any]()
      def cmp(a: Any, b: Any): Int = a.asInstanceOf[Comparable[Any]].compareTo(b)
      def find(x: Any): Any = {
        var r = x
        while (parent.get(r) != r) r = parent.get(r)
        var c = x // path compression: value writes only, key set untouched
        while (parent.get(c) != r) { val nx = parent.get(c); parent.put(c, r); c = nx }
        r
      }
      it.foreach { row =>
        val u = row.get(0); val v = row.get(1)
        if (!parent.containsKey(u)) parent.put(u, u)
        if (!parent.containsKey(v)) parent.put(v, v)
        val ru = find(u); val rv = find(v)
        if (ru != rv) {
          if (cmp(ru, rv) <= 0) parent.put(rv, ru) else parent.put(ru, rv)
        }
      }
      val keys = parent.keySet().toArray
      keys.iterator.map(n => Row(n, find(n)))
    }
    spark.createDataFrame(rows, outSchema)
  }

  /** CC including isolated vertices: every row of `vertices` gets a
    * cluster id (its own id when unmatched).
    */
  def clusterAll(
      vertices: DataFrame,
      idCol: String,
      edges: DataFrame,
      srcCol: String,
      dstCol: String): DataFrame = {
    val cc = connectedComponents(edges, srcCol, dstCol)
    vertices.select(col(idCol).as("node"))
      .join(cc, Seq("node"), "left")
      .select(col("node").as(idCol),
        coalesce(col("cluster_id"), col("node")).as("cluster_id"))
  }
}
