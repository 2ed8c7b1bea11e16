package graft.streaming

import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.core.Scratch
import graft.plans.Compaction

/** Structured-Streaming operators. The reference has no true streaming
  * (SURVEY.md par.2.10) — its incrementality is batch + timestamps; here the
  * same event-time semantics run as a real stream: file source ->
  * watermark -> windowed aggregation -> sink, with Trigger.AvailableNow
  * so a parquet snapshot drives the stream to completion synchronously
  * (the batch-equivalence oracle checks the result).
  */
object StreamingOps {

  /** Sink directory of the most recent wrapper run — test hook so specs
    * can assert the scale-safe sink actually received the result files.
    */
  @volatile private[graft] var lastSinkPath: String = ""

  private val StreamFamily = "graft_stream_"

  /** Result and checkpoint directories of one wrapper run. Like the staged
    * inputs they are scratch artifacts of the `graft_stream_` family: the
    * returned DataFrame still reads them, so they are deleted at exit, or
    * by a later run's stale sweep after a kill.
    */
  private def sinkDirs(spark: SparkSession, tag: String): (String, String) = {
    val dir = Scratch.fresh(spark, StreamFamily, tag)
    (s"$dir/result.parquet", s"$dir/chk")
  }

  /** Session for a streaming query with a DATA-SIZED stateful-shuffle
    * width (the Clustering isolated-session pattern). Stateful operators
    * pay a fixed per-partition state-store cost — provider init, delta
    * file commit, snapshot bookkeeping — EVERY micro-batch, and AQE
    * cannot help (it is disabled for stateful workloads), so a
    * core-count-sized width turns a kilobyte snapshot into hundreds of
    * pure-overhead state tasks per run (measured round 6:
    * stream_windowed_agg spent 32 s of task time across 32 state
    * partitions to aggregate a 2 MB input). Width = input bytes / 32 MB,
    * clamped to [1, session width]: tiny inputs get a handful of state
    * partitions, large inputs keep the operator's configured width —
    * scale-adaptive, not a local constant. The bytes are the content
    * summary of the path on its own FileSystem (a file, or a directory
    * tree of any depth, partitioned layouts included); a path whose size
    * cannot be read keeps the session width rather than guessing small.
    * Each operator here creates a FRESH checkpoint per invocation, so
    * deriving the width per call is safe (a width is otherwise pinned by
    * an existing checkpoint). The child session shares the SparkContext
    * but owns its SQLConf, so concurrent callers never observe the
    * override.
    */
  private[graft] def streamSession(spark: SparkSession, inputPath: String): SparkSession = {
    val sessionWidth =
      try spark.conf.get("spark.sql.shuffle.partitions").toInt
      catch { case _: Throwable => spark.sparkContext.defaultParallelism }
    val width =
      try {
        val p = new Path(inputPath)
        val bytes = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .getContentSummary(p).getLength
        math.max(1L, math.min(sessionWidth.toLong, bytes / (32L << 20) + 1)).toInt
      } catch { case NonFatal(_) => sessionWidth }
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", width.toString)
    ss
  }

  /** Drive a COMPLETE-mode aggregation stream into a parquet directory via
    * foreachBatch (each micro-batch overwrites with the current complete
    * result; the final batch leaves the final table), then read it back.
    * The result never materializes in the driver — executors write the
    * files — so sessionization at production cardinality (sessions ~
    * O(users)) cannot OOM the driver the way a `memory` sink would. The
    * same foreachBatch slot routes to any batch sink (JDBC upsert:
    * firstSeenToJdbc below).
    */
  private def completeToParquet(agg: DataFrame, tag: String): DataFrame = {
    val spark = agg.sparkSession
    val (out, chk) = sinkDirs(spark, tag)
    val q = agg.writeStream
      .outputMode("complete")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("overwrite").parquet(out)
      }
      .option("checkpointLocation", chk)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    lastSinkPath = out
    spark.read.parquet(out)
  }

  /** Hourly tumbling-window counts/sums per event_type over the events
    * table, executed as a stream. Returns the final result table.
    */
  /** Streaming file sources need a directory: point at the parent with a
    * glob filter when given a single parquet file. maxFilesPerTrigger
    * splits directory inputs into multiple micro-batches — the stateful
    * operators must stay correct under any batch split.
    */
  private def streamParquet(
      spark: SparkSession, path: String, maxFilesPerTrigger: Option[Int] = None) = {
    val schema = spark.read.parquet(path).schema
    val p = new Path(path)
    val base = spark.readStream.schema(schema)
    val withMax = maxFilesPerTrigger.fold(base)(m => base.option("maxFilesPerTrigger", m))
    if (p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p).isFile ||
        path.endsWith(".parquet"))
      withMax.option("pathGlobFilter", p.getName).parquet(p.getParent.toString)
    else withMax.parquet(path)
  }

  def windowedEventAgg(spark: SparkSession, eventsParquet: String): DataFrame = {
    val stream0 = streamParquet(streamSession(spark, eventsParquet), eventsParquet)
    val stream = stream0
      // file timestamps are NTZ; event-time ops need instant semantics
      // (session tz is pinned to UTC so the cast is value-preserving)
      .withColumn("ts", col("ts").cast("timestamp"))
    val agg = stream
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total_value"))
    completeToParquet(agg, "win").select(
      col("window.start").cast("timestamp_ntz").as("window_start"),
      col("event_type"), col("n"), col("total_value"))
  }

  final case class Ev(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)

  /** Custom streaming state via KeyValueGroupedDataset.flatMapGroupsWithState:
    * first-seen-wins dedup per key — the streaming analogue of the
    * pipeline's incremental "skip already-processed urls" semantics (I1).
    *
    * Correct under ANY micro-batch split (directory sources,
    * maxFilesPerTrigger): the state holds the best-so-far (ts, event_id)
    * per key, and a batch emits a row only when it improves the best — a
    * CDC-style changelog. The sink side compacts the changelog to the
    * per-key minimum, which equals the batch oracle regardless of how
    * events were split across batches (a later batch carrying an
    * earlier-timestamped event supersedes the earlier emission).
    */
  /** The cross-batch best-so-far changelog both first-seen surfaces share:
    * a batch emits a key's event only when it improves the stored minimum
    * (ts, event_id).
    */
  private def firstSeenChangelog(
      spark: SparkSession, eventsParquet: String,
      maxFilesPerTrigger: Option[Int]): org.apache.spark.sql.Dataset[Ev] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    streamParquet(streamSession(spark, eventsParquet), eventsParquet, maxFilesPerTrigger)
      .withColumn("ts", col("ts").cast("timestamp"))
      .select("event_id", "ts", "user_id", "event_type", "value").as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Long, evs: Iterator[Ev], state: GroupState[(Long, Long)]) =>
          val incoming = evs.minBy(e => (e.ts.getTime, e.event_id))
          val key = (incoming.ts.getTime, incoming.event_id)
          val improves = state.getOption.forall(best =>
            key._1 < best._1 || (key._1 == best._1 && key._2 < best._2))
          if (improves) { state.update(key); Iterator(incoming) }
          else Iterator.empty
      }
  }

  def firstSeenPerUser(
      spark: SparkSession, eventsParquet: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val deduped = firstSeenChangelog(spark, eventsParquet, maxFilesPerTrigger)
    // append-mode parquet FILE sink: the changelog lands on disk via the
    // executors (exactly-once through the sink's commit log); the driver
    // never holds the result table
    val (out, chk) = sinkDirs(spark, "first")
    val q = deduped.toDF().writeStream
      .outputMode("append")
      .format("parquet")
      .option("path", out)
      .option("checkpointLocation", chk)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    lastSinkPath = out
    // changelog compaction: per key, the final best is the minimum emitted
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    spark.read.parquet(out)
      .withColumn("_rk", row_number().over(w))
      .filter(col("_rk") === 1)
      .select(
        col("user_id"), col("event_id"),
        col("ts").cast("timestamp_ntz").as("ts"),
        col("event_type"), round(col("value"), 2).as("value"))
  }

  /** Stream -> SQL-database upsert: the first-seen changelog (emitted only
    * when a key's best improves) lands in the JDBC store via foreachBatch,
    * each micro-batch one transactional upsert keyed by user_id — the
    * streaming face of the reference's DatabaseAdapter sink
    * (database_adapter.py:59-73). Because later batches can carry
    * earlier-timestamped events, the upsert's replace-on-key semantics is
    * exactly what makes the target converge to the batch answer under any
    * batch split (CDC compaction).
    */
  def firstSeenToJdbc(
      spark: SparkSession, eventsParquet: String,
      jdbcUrl: String, table: String,
      maxFilesPerTrigger: Option[Int] = None): Unit = {
    val changelog = firstSeenChangelog(spark, eventsParquet, maxFilesPerTrigger)
    val types = Some(
      "user_id BIGINT, event_id BIGINT, ts TIMESTAMP, event_type VARCHAR(32), value DOUBLE")
    val q = changelog.toDF()
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"), col("value"))
      .writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          // a batch may carry several improvements per key across input
          // files; keep each key's best before the keyed upsert
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
          val best = batch.withColumn("_rk", row_number().over(w))
            .filter(col("_rk") === 1).drop("_rk")
          graft.sources.JdbcStore.upsert(
            batch.sparkSession, best, jdbcUrl, table, Seq("user_id"), types)
        }
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Rows the last lateDataWindowedAgg run dropped at the watermark —
    * test hook so specs can assert the discard actually happened (the
    * state-store metric, not an inference from row counts).
    */
  @volatile private[graft] var lastDroppedByWatermark: Long = -1L

  /** One staged data file per intended micro-batch: move a single-part
    * parquet write into the stream dir and pin its mtime so the file
    * source discovers the files in the order the test scripted.
    */
  private[graft] def stageOne(
      inDir: String, df: DataFrame, name: String, mtime: Long): Unit = {
    val tmp = s"$inDir/_stage_$name"
    df.coalesce(1).write.parquet(tmp)
    place(df.sparkSession, tmp, inDir, name, mtime)
    Scratch.delete(df.sparkSession, tmp)
  }

  /** Move the one part file of `dir` to `inDir/name`, modified at `mtime`,
    * on the directory's `FileSystem`.
    */
  private def place(
      spark: SparkSession, dir: String, inDir: String, name: String, mtime: Long): Unit = {
    val fs = Scratch.fileSystem(spark, inDir)
    val part = new Path(dir, Compaction.partFiles(spark, dir).head)
    val target = new Path(inDir, name)
    if (!fs.rename(part, target)) throw new java.io.IOException(s"cannot move $part to $target")
    fs.setTimes(target, mtime, -1)
  }

  /** Stage several data files in ONE write job: union the frames with an
    * index tag, write partitionBy(tag) from a single task (one part file
    * per tag value), then move each file into place with its scripted
    * mtime — replaces one write job PER staged file. A tag that produced
    * no rows writes no partition directory; it falls back to the
    * per-frame path so an empty staged file still appears.
    */
  private[graft] def stageMany(
      inDir: String, frames: Seq[(DataFrame, String, Long)]): Unit = {
    val spark = frames.head._1.sparkSession
    val staged = s"$inDir/_staged"
    frames.zipWithIndex
      .map { case ((df, _, _), i) => df.withColumn("_f", lit(i)) }
      .reduce(_ unionByName _)
      .coalesce(1)
      .write.partitionBy("_f").parquet(staged)
    val fs = Scratch.fileSystem(spark, staged)
    frames.zipWithIndex.foreach { case ((df, name, mtime), i) =>
      val dir = s"$staged/_f=$i"
      if (fs.exists(new Path(dir))) place(spark, dir, inDir, name, mtime)
      else stageOne(inDir, df, name, mtime)
    }
    Scratch.delete(spark, staged)
  }

  /** Watermark late-data discard, exercised for real: the input is staged
    * as THREE files with ordered modification times — files A and B
    * together map every event into day-2 hourly windows, file C maps the
    * same events into day-1 windows — and the stream reads them with
    * maxFilesPerTrigger=1. Spark filters late rows with the watermark
    * COMMITTED BEFORE the current batch (a one-batch delay — a two-file
    * input would absorb the late file, which is exactly what the first
    * version of this operator got wrong), so the drop needs the late file
    * in batch 3: batches 1-2 commit the watermark at max(day-2 ts) - 1h,
    * and every file-C row is then a full day behind it and MUST be
    * dropped. In append mode the output contains exactly the day-2
    * windows the final watermark closed (end <= watermark — verified
    * boundary). Both rules are oracle-visible: undropped late rows would
    * surface as day-1 windows (well past the final watermark, so they
    * would be emitted), and never-closed trailing windows must be
    * withheld.
    */
  def lateDataWindowedAgg(spark: SparkSession, eventsParquet: String): DataFrame = {
    // every-5th-event subsample: the drop semantics are volume-free, and
    // 5 is coprime to 24 so all hourly window residues stay populated
    val ev = spark.read.parquet(eventsParquet).filter(col("event_id") % 5 === 0)
    def staged(day: String, half: Option[Int]): DataFrame = {
      val base = half.fold(ev)(h => ev.filter(pmod(col("event_id"), lit(2)) === h))
      base.select(
        (to_timestamp(lit(day)) +
          expr("make_interval(0, 0, 0, 0, CAST(event_id % 24 AS INT), 0, 0)")).as("ts"),
        col("value"))
    }
    val inDir = Scratch.fresh(spark, StreamFamily, "late_in")
    stageMany(inDir, Seq(
      (staged("2026-01-02 00:00:00", Some(0)), "a_ontime.parquet", 1000000000000L),
      (staged("2026-01-02 00:00:00", Some(1)), "b_ontime.parquet", 1000000001000L),
      (staged("2026-01-01 00:00:00", None), "c_late.parquet", 1000000002000L)))

    val agg = streamSession(spark, eventsParquet).readStream
      .schema(staged("2026-01-02 00:00:00", None).schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(inDir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total_value"))
      .select(col("window.start").as("ws"), col("n"), col("total_value"))
    val (out, chk) = sinkDirs(spark, "late")
    val q = agg.writeStream
      .outputMode("append") // append: only watermark-closed windows land
      .format("parquet")
      .option("path", out)
      .option("checkpointLocation", chk)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    lastSinkPath = out
    if (sys.env.contains("GRAFT_STREAM_DEBUG"))
      q.recentProgress.foreach(p => System.err.println("[late-debug] " + p.json))
    lastDroppedByWatermark = q.recentProgress
      .flatMap(p => Option(p.stateOperators).map(_.toSeq).getOrElse(Seq.empty))
      .map(_.numRowsDroppedByWatermark).sum
    spark.read.parquet(out)
      .select(col("ws").cast("timestamp_ntz").as("window_start"),
        col("n"), col("total_value"))
  }

  /** Test hooks for the last streaming-dedup run: retained state keys at
    * the final batch and how many non-empty micro-batches ran.
    */
  @volatile private[graft] var lastDedupStateRows: Long = -1L
  @volatile private[graft] var lastDedupBatches: Long = -1L

  /** Streaming ingestion dedup with BOUNDED state:
    * `dropDuplicatesWithinWatermark` keyed by content fingerprint. The
    * production shape for continuous crawl ingestion — a plain streaming
    * `dropDuplicates` retains one state entry per distinct key FOREVER,
    * which at 100 TB/day never stops growing; the watermarked variant
    * evicts a fingerprint once the event-time watermark passes its
    * dedup horizon (here 30 days), so state is bounded by the horizon's
    * key volume, not the stream's lifetime. First occurrence is emitted
    * immediately (append mode); the horizon governs only eviction.
    *
    * Exercised for real: exact duplicates of every 10th document are
    * planted under shifted ids, the input is staged as three id-residue
    * files read with maxFilesPerTrigger=1, and a planted copy ALWAYS
    * lands in a different file than its original (10^7 mod 3 = 1), so the
    * dedup must carry fingerprint state across micro-batches. Ingestion
    * timestamps spread deterministically over minutes — far inside the
    * horizon — so the planted and natural duplicates all dedup, and the
    * result is exactly one surviving row per distinct fingerprint
    * (`n_kept` = 1, oracle: DISTINCT over the raw table; the planted
    * copies add no new fingerprints by construction). The eviction
    * semantics (duplicate arriving beyond the horizon is kept again) are
    * spec-asserted separately with a scripted watermark advance.
    */
  def dedupDocuments(spark: SparkSession, documentsParquet: String): DataFrame = {
    val docs = spark.read.parquet(documentsParquet)
      .select(col("doc_id"),
        graft.functions.TextAnalysis.docFingerprint(col("text")).as("fp"))
    val planted = docs.filter(col("doc_id") % 10 === 0)
      .withColumn("doc_id", col("doc_id") + lit(10000000L))
    val full = docs.unionByName(planted)
      .withColumn("ts", to_timestamp(lit("2026-01-02 00:00:00")) +
        expr("make_interval(0, 0, 0, 0, 0, CAST(doc_id % 60 AS INT), 0)"))
    val inDir = Scratch.fresh(spark, StreamFamily, "dedup_in")
    // ONE write job stages all three residue files (stageMany; was
    // persist + three filtered writes — three jobs plus cache
    // bookkeeping)
    stageMany(inDir, (0 to 2).map(r =>
      (full.filter(pmod(col("doc_id"), lit(3)) === r),
        s"f$r.parquet", 1000000000000L + r * 1000L)))
    val deduped = streamSession(spark, documentsParquet).readStream
      .schema(full.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(inDir)
      .withWatermark("ts", "30 days")
      .dropDuplicatesWithinWatermark("fp")
    val (out, chk) = sinkDirs(spark, "dedup")
    val q = deduped.writeStream
      .outputMode("append")
      .format("parquet")
      .option("path", out)
      .option("checkpointLocation", chk)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    lastSinkPath = out
    val stateOps = q.recentProgress.toSeq
      .flatMap(p => Option(p.stateOperators).map(_.toSeq).getOrElse(Seq.empty))
    lastDedupStateRows = stateOps.map(_.numRowsTotal).lastOption.getOrElse(-1L)
    lastDedupBatches = q.recentProgress.count(_.numInputRows > 0).toLong
    spark.read.parquet(out).groupBy("fp").agg(count(lit(1)).as("n_kept"))
  }

  /** Stateful per-user sessionization via flatMapGroupsWithState-style
    * semantics, expressed with the declarative session_window — gaps over
    * `gapMinutes` start a new session.
    */
  def sessionize(spark: SparkSession, eventsParquet: String, gapMinutes: Int): DataFrame = {
    val stream = streamParquet(streamSession(spark, eventsParquet), eventsParquet)
      .withColumn("ts", col("ts").cast("timestamp"))
    val agg = stream
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), s"$gapMinutes minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("session_value"))
    completeToParquet(agg, "sess").select(
      col("session_window.start").cast("timestamp_ntz").as("session_start"),
      col("user_id"), col("n_events"), col("session_value"))
  }
}
