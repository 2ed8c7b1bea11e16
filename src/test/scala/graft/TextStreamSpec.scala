package graft

import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis
import graft.streaming.StreamingOps

/** Text-analysis operators + streaming batch-equivalence. */
class TextStreamSpec extends SparkSpec {
  import spark.implicits._

  test("language id picks the dominant marker set, fixed tie order") {
    val df = Seq(
      "the quick value in a row the a",   // en markers dominate
      "data table part data table data", // es markers dominate
      "window group batch window",       // de markers dominate
      "nothing matching here")           // all zero -> tie -> en
      .toDF("text")
    val got = df.select(TextAnalysis.langId($"text")).collect().map(_.getString(0)).toSeq
    assert(got === Seq("en", "es", "de", "en"))
  }

  test("countTokens matches tokens literally, not as regex") {
    // "a.b" as a regex would also match "axb"
    val n = Seq("a.b axb").toDF("text")
      .select(TextAnalysis.countTokens($"text", Seq("a.b"))).head().getInt(0)
    assert(n === 1)
  }

  test("quality features: hand-computed values") {
    val r = Seq("the cat and the hat!!").toDF("text")
      .select(
        TextAnalysis.wordCount($"text").as("wc"),
        round(TextAnalysis.stopwordRatio($"text"), 4).as("sr"),
        round(TextAnalysis.punctRatio($"text"), 4).as("pr"))
      .head()
    assert(r.getInt(0) === 5)
    assert(r.getDouble(1) === 0.6) // the, and, the of 5
    assert(r.getDouble(2) === math.rint(2.0 / 21.0 * 10000) / 10000)
  }

  test("token counts: whitespace vs regex tokens") {
    val r = Seq("hello, world! x2").toDF("text")
      .select(
        TextAnalysis.whitespaceTokenCount($"text").as("ws"),
        TextAnalysis.regexTokenCount($"text").as("re"))
      .head()
    assert(r.getInt(0) === 3)
    // hello , world ! x2 -> 5 regex tokens
    assert(r.getInt(1) === 5)
  }

  test("PII redaction rewrites emails and phones, counts what it found") {
    val r = Seq("mail a.b-c@foo.co.uk now or 555-123-4567, else 12-34").toDF("text")
      .select(
        TextAnalysis.emailCount($"text").as("ne"),
        TextAnalysis.phoneCount($"text").as("np"),
        TextAnalysis.redactPii($"text").as("red"))
      .head()
    assert(r.getInt(0) === 1 && r.getInt(1) === 1)
    assert(r.getString(2) === "mail [EMAIL] now or [PHONE], else 12-34")
    // word-boundary guard: digits embedded in longer runs don't match
    val r2 = Seq("id 9555-123-45678 x").toDF("text")
      .select(TextAnalysis.phoneCount($"text")).head()
    assert(r2.getInt(0) === 0)
  }

  test("repetition signals: unique-word and bigram fractions") {
    val r = Seq("spam spam spam ham").toDF("text")
      .select(
        round(TextAnalysis.uniqueWordFrac($"text"), 4).as("uw"),
        TextAnalysis.wordBigrams($"text").as("bg"))
      .head()
    assert(r.getDouble(0) === 0.5) // {spam, ham} of 4
    assert(r.getSeq[String](1) === Seq("spam spam", "spam spam", "spam ham"))
    // degenerate shapes
    val d = Seq("", "one").toDF("text")
      .select(TextAnalysis.uniqueWordFrac($"text").as("uw"),
        size(TextAnalysis.wordBigrams($"text")).as("nbg"))
      .collect()
    assert(d(0).getDouble(0) === 0.0 && d(0).getInt(1) === 0)
    assert(d(1).getDouble(0) === 1.0 && d(1).getInt(1) === 0)
  }

  test("context-window chunking: exact boundaries at the window edge") {
    val mk = (n: Int) => (1 to n).map(i => s"w$i").mkString(" ")
    // 64 words -> one full chunk; 65 -> full chunk + 1-word tail
    val rows = graft.queries.Catalog.queries("text_chunks")(spark, "/root/testdata/sf0.001")
    assert(rows.columns.toSeq === Seq("doc_id", "chunk_idx", "n_tokens", "chunk"))
    val df = Seq((1L, mk(64)), (2L, mk(65)), (3L, "solo")).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("graft_chunks").toString
    df.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = graft.queries.Catalog.queries("text_chunks")(spark, tmp)
      .orderBy("doc_id", "chunk_idx")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSeq
    assert(got === Seq((1L, 0, 64), (2L, 0, 64), (2L, 1, 1), (3L, 0, 1)))
  }

  test("empty/null text is safe across all text operators") {
    val df = Seq("", null.asInstanceOf[String], "   ").toDF("text")
    val got = df.select(
      TextAnalysis.wordCount($"text").as("wc"),
      TextAnalysis.meanWordLen($"text").as("mwl"),
      TextAnalysis.stopwordRatio($"text").as("sr"),
      TextAnalysis.punctRatio($"text").as("pr"),
      TextAnalysis.qualityScore($"text").as("q"),
      TextAnalysis.docFingerprint($"text").as("fp")).collect()
    got.foreach { r =>
      assert(r.getInt(0) === 0)
      assert(r.getDouble(1) === 0.0)
      assert(!r.isNullAt(5))
    }
  }

  test("rolling fingerprint: equal text equal hash, prefix-stable-ish") {
    val h = (s: String) => Seq(s).toDF("t")
      .select(TextAnalysis.rollingFingerprint($"t").as("h")).head().getLong(0)
    assert(h("some long document text here") === h("some long document text here"))
    assert(h("abc") !== h("xyz"))
  }

  test("url canonicalization: hand vectors for every rule") {
    val c = (s: String) => Seq(s).toDF("u")
      .select(TextAnalysis.canonicalUrl($"u").as("c")).head().getString(0)
    // scheme+host lowercased, path case preserved
    assert(c("HTTPS://WWW.Ex.COM/Docs/A") === "https://www.ex.com/Docs/A")
    // default ports stripped per scheme; non-default kept
    assert(c("https://ex.com:443/a") === "https://ex.com/a")
    assert(c("http://ex.com:80/a") === "http://ex.com/a")
    assert(c("http://ex.com:8080/a") === "http://ex.com:8080/a")
    assert(c("https://ex.com:80/a") === "https://ex.com:80/a")
    // fragment dropped; bare root path dropped
    assert(c("https://ex.com/a#sec") === "https://ex.com/a")
    assert(c("https://ex.com/") === "https://ex.com")
    // tracking params stripped with delimiter repair, real params survive
    assert(c("https://ex.com/a?utm_source=x") === "https://ex.com/a")
    assert(c("https://ex.com/a?utm_source=x&p=1") === "https://ex.com/a?p=1")
    assert(c("https://ex.com/a?p=1&utm_source=x") === "https://ex.com/a?p=1")
    assert(c("https://ex.com/a?utm_a=1&p=1&ref=h&q=2#f") === "https://ex.com/a?p=1&q=2")
    assert(c("https://ex.com/a?gclid=1&fbclid=2") === "https://ex.com/a")
    // a non-tracking param whose name merely contains "ref" survives
    assert(c("https://ex.com/a?refresh=1") === "https://ex.com/a?refresh=1")
    // '&' is a legal PATH character (RFC 3986): stripping and delimiter
    // repair must never touch the path component
    assert(c("https://ex.com/download&ref=nav") === "https://ex.com/download&ref=nav")
    assert(c("https://ex.com/a&&b") === "https://ex.com/a&&b")
    assert(c("https://ex.com/p&utm_x=1/more?q=1") === "https://ex.com/p&utm_x=1/more?q=1")
    assert(c("https://ex.com/p&x?utm_a=1&q=2") === "https://ex.com/p&x?q=2")
    // bare root with a surviving query collapses the slash
    assert(c("https://ex.com/?p=1") === "https://ex.com?p=1")
  }

  test("registered domain: port and www stripped, last two labels") {
    val d = (s: String) => Seq(s).toDF("u")
      .select(TextAnalysis.registeredDomain($"u").as("d")).head().getString(0)
    assert(d("https://www.crawl.src0.net:443/item/1") === "src0.net")
    assert(d("http://Ex.COM/x") === "ex.com")
    assert(d("https://a.b.c.example.org/") === "example.org")
    assert(d("https://localhost/") === "")
  }

  test("streaming windowed agg equals the batch computation") {
    val path = "/root/testdata/sf0.001/events.parquet"
    val streamed = StreamingOps.windowedEventAgg(spark, path)
      .orderBy("window_start", "event_type").collect()
    val batch = spark.read.parquet(path)
      .groupBy(window($"ts".cast("timestamp"), "1 hour"), $"event_type")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total_value"))
      .select($"window.start".cast("timestamp_ntz").as("window_start"),
        $"event_type", $"n", $"total_value")
      .orderBy("window_start", "event_type").collect()
    assert(streamed.toSeq === batch.toSeq)
    assert(streamed.nonEmpty)
  }

  test("stream state width follows the bytes of a nested tree; an unreadable path keeps the session width") {
    val sessionWidth = spark.conf.get("spark.sql.shuffle.partitions").toInt
    def width(path: String) =
      StreamingOps.streamSession(spark, path).conf.get("spark.sql.shuffle.partitions").toInt
    val root = java.nio.file.Files.createTempDirectory("graft_stream_width")
    try {
      // a partitioned layout: two 40 MB (sparse) files one level down, so
      // a top-level-only listing would see 0 bytes
      for (k <- Seq("k=1", "k=2")) {
        val dir = java.nio.file.Files.createDirectories(root.resolve(k))
        val f = new java.io.RandomAccessFile(dir.resolve("part-0.parquet").toFile, "rw")
        try f.setLength(40L << 20) finally f.close()
      }
      // width = bytes / 32 MB + 1, clamped to [1, session width]
      assert(width(root.toString) === math.min(sessionWidth, 3))
      assert(width(root.resolve("k=1/part-0.parquet").toString) === math.min(sessionWidth, 2))
      assert(width(root.resolve("missing").toString) === sessionWidth)
      assert(width("nosuchfs://host/events.parquet") === sessionWidth)
    } finally graft.core.Scratch.delete(spark, root.toString)
  }

  test("streaming wrappers land in a file sink, never a driver memory table") {
    val path = "/root/testdata/sf0.001/events.parquet"
    for (run <- Seq(
        () => StreamingOps.windowedEventAgg(spark, path),
        () => StreamingOps.firstSeenPerUser(spark, path),
        () => StreamingOps.sessionize(spark, path, 10))) {
      run().count()
      val sink = new java.io.File(StreamingOps.lastSinkPath)
      assert(sink.isDirectory, s"expected a parquet sink dir at $sink")
      assert(sink.listFiles().exists(_.getName.endsWith(".parquet")),
        s"sink dir $sink holds no parquet part files")
    }
    // no in-memory result tables registered by any wrapper
    val memTables = spark.catalog.listTables().collect()
      .map(_.name).filter(_.startsWith("graft_stream"))
    assert(memTables.isEmpty, s"driver-resident memory tables: ${memTables.toSeq}")
  }

  test("first-seen state is correct under multi-batch delivery") {
    // two files, delivered as separate micro-batches (maxFilesPerTrigger=1),
    // where the SECOND batch carries the earlier event for user 1 — the
    // cross-batch state must supersede batch 1's emission
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_mb").toFile
    val f1 = new java.io.File(dir, "b1")
    val f2 = new java.io.File(dir, "b2")
    def ts(h: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:00:00")
    Seq(
      (10L, ts(5), 1L, "view", 1.0),
      (11L, ts(3), 2L, "view", 2.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .coalesce(1).write.parquet(f1.getPath)
    Seq(
      (12L, ts(2), 1L, "click", 3.0), // earlier than user 1's batch-1 event
      (13L, ts(7), 2L, "click", 4.0)) // later than user 2's batch-1 event
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .coalesce(1).write.parquet(f2.getPath)
    // file source orders batches by modification time: make b2 strictly newer
    val now = System.currentTimeMillis()
    f1.listFiles().foreach(_.setLastModified(now - 60000))
    f2.listFiles().foreach(_.setLastModified(now))
    // single flat dir of parquet part files
    val flat = new java.io.File(dir, "flat"); flat.mkdirs()
    Seq(f1, f2).zipWithIndex.foreach { case (d, i) =>
      d.listFiles().filter(_.getName.endsWith(".parquet")).zipWithIndex.foreach {
        case (pf, j) =>
          val tgt = new java.io.File(flat, s"part-$i-$j.parquet")
          java.nio.file.Files.copy(pf.toPath, tgt.toPath)
          tgt.setLastModified(now - (1 - i) * 60000)
      }
    }
    val got = StreamingOps.firstSeenPerUser(spark, flat.getPath, maxFilesPerTrigger = Some(1))
      .select("user_id", "event_id").orderBy("user_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got === Seq((1L, 12L), (2L, 11L)),
      s"multi-batch first-seen diverged from the batch oracle: $got")
  }

  test("watermark genuinely discards late rows (append mode, state-store metric)") {
    val path = "/root/testdata/sf0.001/events.parquet"
    val got = StreamingOps.lateDataWindowedAgg(spark, path)
      .orderBy("window_start").collect()
    // the discard is asserted from the state store's own counter (the
    // filter runs post-partial-aggregation, so the count is in window
    // keys, not raw rows — nonzero means the drop really happened)
    assert(StreamingOps.lastDroppedByWatermark > 0,
      s"late rows absorbed, not dropped (metric ${StreamingOps.lastDroppedByWatermark})")
    // batch oracle: the day-2 windows the final watermark closed (same
    // every-5th-event subsample the operator stages)
    val ontime = spark.read.parquet(path)
      .filter($"event_id" % 5 === 0)
      .select(
      (to_timestamp(lit("2026-01-02 00:00:00")) +
        expr("make_interval(0, 0, 0, 0, CAST(event_id % 24 AS INT), 0, 0)")).as("ts"),
      $"value")
    val wm = ontime.agg(max($"ts") - expr("INTERVAL 1 HOUR")).head().getTimestamp(0)
    val expect = ontime
      .groupBy(window($"ts", "1 hour"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total_value"))
      .filter($"window.end" <= lit(wm))
      .select($"window.start".cast("timestamp_ntz").as("window_start"),
        $"n", $"total_value")
      .orderBy("window_start").collect()
    assert(got.nonEmpty)
    assert(got.toSeq === expect.toSeq)
  }

  test("streaming changelog upserts converge the JDBC target to the batch answer") {
    import graft.sources.JdbcStore
    val path = "/root/testdata/sf0.001/events.parquet"
    val url = JdbcStore.derbyUrl(s"stream_${System.nanoTime()}")
    StreamingOps.firstSeenToJdbc(spark, path, url, "first_seen")
    val got = JdbcStore.read(spark, url, "first_seen")
      .select("user_id", "event_id").orderBy("user_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val expect = spark.read.parquet(path)
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy($"ts", $"event_id")))
      .filter($"rk" === 1)
      .select("user_id", "event_id").orderBy("user_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got === expect)
    assert(got.nonEmpty)
  }

  test("streaming sessionization produces non-overlapping per-user sessions") {
    val path = "/root/testdata/sf0.001/events.parquet"
    val sessions = StreamingOps.sessionize(spark, path, 10)
    val n = sessions.count()
    assert(n > 0)
    val events = spark.read.parquet(path).count()
    assert(sessions.agg(sum("n_events")).head().getLong(0) === events)
  }

  private def writeDocs(rows: Seq[(Long, String, String, String)]): String = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_textops").toString
    rows.toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    tmp
  }

  test("mixture sampling: deterministic md5-hex cutoff per language quota") {
    // md5("1") = c4ca..., md5("2") = c81e..., md5("3") = eccb..., md5("4") = a87f...
    val tmp = writeDocs(Seq(
      (1L, "a", "en", "s1"), (2L, "b", "de", "s1"),
      (3L, "c", "en", "s2"), (4L, "d", "de", "s2")))
    val run = () => graft.queries.Catalog.queries("text_mixture_sample")(spark, tmp)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getBoolean(3))).toSeq
    val got = run()
    // en cutoff 'ff' keeps everything; de cutoff '3f': c8 > 3f drops, a8 > 3f drops
    assert(got === Seq((1L, true), (2L, false), (3L, true), (4L, false)))
    assert(run() === got) // no RNG state: identical on re-run
  }

  test("decontamination flags planted, derived, and self overlaps only") {
    val evalWords = (1 to 12).map(i => s"e$i").mkString(" ") // doc 97: eval doc
    // doc 5 copies doc 97's words 3..10 contiguously -> derived-phrase hit
    val copied = "x y " + (3 to 10).map(i => s"e$i").mkString(" ") + " z"
    val tmp = writeDocs(Seq(
      (97L, evalWords, "en", "s1"),
      (5L, copied, "en", "s1"),
      (31L, "just ordinary words here nothing shared at all", "en", "s1"),
      (2L, "completely clean document with its own eight plus words", "en", "s1")))
    val got = graft.queries.Catalog.queries("text_decontaminate")(spark, tmp)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    // 31 is contaminated via the planted marker phrase; 97 matches itself;
    // 5 matches the phrase derived from 97; 2 stays clean
    assert(got === Seq(
      (2L, 0L, false), (5L, 1L, true), (31L, 1L, true), (97L, 1L, true)))
  }

  test("sequence packing: exact offsets, docs cross bin boundaries") {
    import graft.operators.SeqPack
    val docs = Seq(
      (1L, "a", 100L), (2L, "a", 200L), (3L, "a", 30L),
      (9L, "b", 300L)).toDF("doc_id", "source", "n_tokens")
    val got = SeqPack.pack(docs, "source", "doc_id", "n_tokens", 256)
      .select("doc_id", "start_off", "bin_first", "bin_last")
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got === Seq(
      (1L, 0L, 0L, 0L),     // tokens [0,100)
      (2L, 100L, 0L, 1L),   // tokens [100,300) cross the 256 boundary
      (3L, 300L, 1L, 1L),   // tokens [300,330)
      (9L, 0L, 0L, 1L)))    // stream b starts fresh at offset 0
  }

  test("streaming dedup: one survivor per fingerprint across batches") {
    // ids 7 and 8 share text (7%3=1, 8%3=2 -> different staged files),
    // and every 10th id gets a planted copy in yet another file — both
    // kinds must dedup through cross-batch state
    val tmp = writeDocs((1L to 30L).map(i =>
      (i, if (i == 7L || i == 8L) "same text seven eight"
          else s"unique doc number $i", "en", "s1")))
    val got = graft.queries.Catalog.queries("stream_dedup")(spark, tmp)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got.length === 29) // 30 docs, one shared fingerprint
    assert(got.forall(_._2 == 1L))
    assert(graft.streaming.StreamingOps.lastDedupBatches === 3L)
    assert(graft.streaming.StreamingOps.lastDedupStateRows === 29L)
  }

  test("streaming dedup: state evicted past the horizon readmits a key") {
    import graft.streaming.StreamingOps
    def row(fp: String, ts: String) =
      Seq(fp).toDF("fp").withColumn("ts", to_timestamp(lit(ts)))
    val inDir = java.nio.file.Files.createTempDirectory("graft_dedup_evict").toString
    StreamingOps.stageOne(inDir,
      row("X", "2026-01-01 00:00:00"), "f0.parquet", 1000000000000L)
    StreamingOps.stageOne(inDir,
      row("Y", "2026-04-10 00:00:00"), "f1.parquet", 1000000001000L)
    // watermark Mar 11 (Apr 10 - 30d) is committed after f1's batch;
    // eviction runs as part of f2's batch, so the readmission probe
    // arrives one batch later in f3 against provably-clean state
    StreamingOps.stageOne(inDir,
      row("Z", "2026-04-10 00:01:00"), "f2.parquet", 1000000002000L)
    StreamingOps.stageOne(inDir,
      row("X", "2026-04-10 00:05:00").union(row("Y", "2026-04-10 00:06:00")),
      "f3.parquet", 1000000003000L)
    val out = java.nio.file.Files.createTempDirectory("graft_dedup_evict_out").toString
    val q = spark.readStream.schema(row("X", "2026-01-01 00:00:00").schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir)
      .withWatermark("ts", "30 days")
      .dropDuplicatesWithinWatermark("fp")
      .writeStream.outputMode("append").format("parquet")
      .option("path", s"$out/r").option("checkpointLocation", s"$out/chk")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val counts = spark.read.parquet(s"$out/r").groupBy("fp").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // X's state (expiry Jan 31) is evicted once a batch runs under the
    // Mar 11 watermark, so April's X is kept AGAIN — bounded state
    // trades horizon-width exactness for never-growing state. Y is
    // inside the horizon: the second Y is dropped.
    assert(counts === Map("X" -> 2L, "Y" -> 1L, "Z" -> 1L))
  }

  test("tfidf: exact tf/df/weights on a hand-computed corpus") {
    // Corpus N=3: "the" in all 3 docs (idf ln(1)=0), "data" in 2
    // (ln(1.5)), "vector" in doc 1 only, twice (2*ln(3)).
    val tmp = writeDocs(Seq(
      (1L, "the vector data vector", "en", "s1"),
      (2L, "the data", "en", "s1"),
      (3L, "the", "en", "s1")))
    val got = graft.queries.Catalog.queries("text_tfidf")(spark, tmp)
      .orderBy("doc_id", "term")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSeq
    def w(tf: Long, df: Long) =
      BigDecimal(tf * math.log(3.0 / df))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got === Seq(
      (1L, "data", 1L, 2L, w(1, 2)),
      (1L, "the", 1L, 3L, 0.0),
      (1L, "vector", 2L, 1L, w(2, 1)),
      (2L, "data", 1L, 2L, w(1, 2)),
      (2L, "the", 1L, 3L, 0.0),
      (3L, "the", 1L, 3L, 0.0)))
  }

  test("quality sampling: kept iff md5 uniform under the score cutoff") {
    val long = (1 to 120).map(i => s"w$i the of and to in is").mkString(" ")
    val tmp = writeDocs(Seq(
      (1L, long, "en", "s1"), (2L, long, "en", "s1"),
      (3L, "", "en", "s1"), (4L, "x", "en", "s1")))
    val rows = graft.queries.Catalog.queries("text_quality_sample")(spark, tmp)
      .orderBy("doc_id").collect()
    rows.foreach { r =>
      val (q, u6, kept) = (r.getDouble(1), r.getString(2), r.getBoolean(3))
      val cutoff = f"${math.floor(q * 16777216.0).toInt}%06x"
      assert(kept === (q >= 1.0 || u6 < cutoff), s"doc ${r.getLong(0)}")
    }
    // both decision branches are exercised: the long docs score exactly
    // 1.0 (always kept), the short/empty docs go through the hex compare
    assert(rows.count(_.getDouble(1) >= 1.0) === 2)
    assert(rows.count(_.getDouble(1) < 1.0) === 2)
    val rerun = graft.queries.Catalog.queries("text_quality_sample")(spark, tmp)
      .orderBy("doc_id").collect().map(_.getBoolean(3)).toSeq
    assert(rerun === rows.map(_.getBoolean(3)).toSeq)
  }

  test("shard plan: per-shard ranks are a 1..n permutation in md5 order") {
    val tmp = writeDocs((1L to 200L).map(i => (i, s"doc $i", "en", "s1")))
    val got = graft.queries.Catalog.queries("text_shard_plan")(spark, tmp)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(got.length === 200)
    got.groupBy(_._2).foreach { case (shard, rows) =>
      assert(rows.map(_._3).sorted.toSeq === (1L to rows.length).toSeq, s"shard $shard")
      // rank order == md5 order within the shard
      val byRank = rows.sortBy(_._3).map(_._1).toSeq
      val byHash = rows.map(_._1).sortBy(id => md5hex(id.toString)).toSeq
      assert(byRank === byHash, s"shard $shard")
    }
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("curation pipeline composes its stages consistently") {
    val dir = "/root/testdata/sf0.001"
    val out = graft.queries.Catalog.queries("text_curation_pipeline")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(2), r.getLong(3)))
    val keptIds = out.map(_._1).toSet
    assert(keptIds.nonEmpty)
    // nothing contaminated survives
    val contaminated = graft.queries.Catalog.queries("text_decontaminate")(spark, dir)
      .filter(col("contaminated")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(keptIds.intersect(contaminated).isEmpty)
    // every kept doc is its fingerprint's min-id survivor
    val survivors = graft.queries.Catalog.queries("text_fingerprint")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._2).map(_._2.map(_._1).min).toSet
    assert(keptIds.subsetOf(survivors))
    // per-shard ords are a 1..n permutation
    out.groupBy(_._2).foreach { case (shard, rows) =>
      assert(rows.map(_._3).sorted.toSeq === (1L to rows.length).toSeq, s"shard $shard")
    }
    // fully deterministic end to end
    val rerun = graft.queries.Catalog.queries("text_curation_pipeline")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(2), r.getLong(3)))
    assert(rerun.sortBy(_._1).toSeq === out.sortBy(_._1).toSeq)
  }

  test("prefix sum matches the plain-window oracle on randomized input") {
    import graft.operators.PrefixSum
    import org.apache.spark.sql.expressions.{Window => W}
    val rnd = new scala.util.Random(20260817)
    val data = (1 to 5000).map(i =>
      (rnd.nextInt(20).toString, i, rnd.nextInt(50).toLong))
      .toDF("k", "ord", "w")
    val got = PrefixSum.withinKeys(data, Seq("k"), Seq("ord"), col("w"), "cum")
      .select("k", "ord", "cum")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    val want = data.withColumn("cum",
      sum("w").over(W.partitionBy("k").orderBy("ord")
        .rowsBetween(W.unboundedPreceding, W.currentRow)))
      .select("k", "ord", "cum")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    assert(got === want)
  }

  test("sketch stats: approx distinct and percentile stay inside the bound") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_sketch").toString
    (1L to 400L).map { i =>
      val text = s"document number $i with some words"
      (i, text, "en", s"s${i % 4}", text.length)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = graft.queries.Catalog.queries("text_sketch_stats")(spark, tmp)
      .orderBy("source").collect()
    assert(got.length === 4)
    got.foreach { r =>
      assert(r.getLong(1) === 100L)
      assert(r.getBoolean(2), s"${r.getString(0)}: approx distinct out of bound")
      assert(r.getBoolean(3), s"${r.getString(0)}: approx p50 out of bound")
    }
  }

  test("prefix sum spreads one hot key across tasks with a correct total") {
    import graft.operators.PrefixSum
    // AQE sizes range partitions by BYTES and would legitimately coalesce
    // a few-MB test key to one partition (a real 10^8-row stream would
    // not) — shrink the advisory size so the test observes the multi-task
    // split real scale would produce (same trick as PipelineSpec's
    // giant-block rank test).
    val keys = Seq("spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize")
    val prev = keys.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      keys.foreach(k => spark.conf.set(k, "64k"))
      val n = 100000
      val rows = spark.range(1, n + 1)
        .select(lpad(col("id").cast("string"), 16, "0").as("ord"))
        .withColumn("k", lit("hot")).withColumn("w", lit(1L))
      val out = PrefixSum.withinKeys(
        rows.repartition(8), Seq("k"), Seq("ord"), $"w", "cum")
      val agg = out.agg(
        max("cum").as("mx"),
        countDistinct("_pid").as("pids"),
        countDistinct("cum").as("dcum")).head()
      assert(agg.getLong(0) === n.toLong) // running sum reaches the total
      assert(agg.getLong(2) === n.toLong) // all prefix values distinct (no gaps/dupes)
      assert(agg.getLong(1) > 1L)         // the hot key spans multiple partitions
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
