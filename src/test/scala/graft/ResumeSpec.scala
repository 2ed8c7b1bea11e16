package graft

import java.nio.file.{Files, Paths}
import java.util.Comparator

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.pipeline.ErPipeline
import graft.plans.StageStore
import graft.sources.WebPageGen

/** Checkpoint/resume semantics (SURVEY.md par.5 item 4): identical output
  * after resume, stages skipped when manifests match, version guard (G2),
  * recompute on changed input.
  */
class ResumeSpec extends SparkSpec {

  private def tmpRoot(): String = {
    val p = Files.createTempDirectory("graft-stages")
    p.toString
  }

  /** Rewrites a stage's manifest JSON in place. */
  private def editManifest(root: String, stage: String)(edit: ObjectNode => Unit): Unit = {
    val mapper = new ObjectMapper()
    val mp = Paths.get(root, stage, "manifest.json")
    val o = mapper.readTree(Files.readAllBytes(mp)).asInstanceOf[ObjectNode]
    edit(o)
    Files.write(mp, mapper.writeValueAsBytes(o))
  }

  private def rmrf(root: String): Unit = {
    val p = Paths.get(root)
    if (Files.exists(p))
      Files.walk(p).sorted(Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => Files.delete(f))
  }

  test("stage is computed once, then read back from checkpoint") {
    val root = tmpRoot()
    try {
      var computeCount = 0
      def once(): org.apache.spark.sql.DataFrame = {
        computeCount += 1
        spark.range(100).toDF("id").withColumn("v", col("id") * 2)
      }
      val a = StageStore.runStage(spark, root, "s1", "v1", "fp-A")(once())
      assert(computeCount === 1 && a.count() === 100)
      val b = StageStore.runStage(spark, root, "s1", "v1", "fp-A")(once())
      assert(computeCount === 1, "matching manifest must skip recompute")
      assert(b.count() === 100)
      // changed input fingerprint -> recompute
      StageStore.runStage(spark, root, "s1", "v1", "fp-B")(once())
      assert(computeCount === 2)
      // changed params -> recompute
      StageStore.runStage(spark, root, "s1", "v1", "fp-B", Map("k" -> "1"))(once())
      assert(computeCount === 3)
      // a version and params holding JSON escapes (" and \) read back intact
      val escaped = "v\"1\\"
      StageStore.runStage(spark, root, "s1e", escaped, "fp-A", Map("k" -> "a\\\"b"))(once())
      assert(computeCount === 4)
      StageStore.runStage(spark, root, "s1e", escaped, "fp-A", Map("k" -> "a\\\"b"))(once())
      assert(computeCount === 4, "an escaped version must resume, not recompute")
    } finally rmrf(root)
  }

  test("manifest carries per-partition lineage stats") {
    val root = tmpRoot()
    try {
      StageStore.runStage(spark, root, "s2", "v1", "fp") {
        spark.range(1000).toDF("id").repartition(4)
      }
      val json = new String(Files.readAllBytes(Paths.get(root, "s2", "manifest.json")))
      assert(json.contains("\"rows\":1000"))
      assert(json.contains("\"partitions\":["))
      assert(json.contains("\"checksum\":"))
      assert(json.contains("\"pipeline_version\":\"v1\""))
    } finally rmrf(root)
  }

  test("pipeline-version mismatch refuses to reuse stale stages (G2 guard)") {
    val root = tmpRoot()
    try {
      StageStore.runStage(spark, root, "s3", "v1", "fp")(spark.range(5).toDF("id"))
      val e = intercept[IllegalStateException] {
        StageStore.runStage(spark, root, "s3", "v2", "fp")(spark.range(5).toDF("id"))
      }
      assert(e.getMessage.contains("pipeline version"))
    } finally rmrf(root)
  }

  test("changing an upstream stage param invalidates all downstream stages") {
    val root = tmpRoot()
    try {
      val pages = WebPageGen.pages(spark, 40L).toDF
      ErPipeline.run(spark, pages, ErPipeline.Config(outRoot = root))
      val scores1 = Files.readAllBytes(Paths.get(root, "scores", "manifest.json"))
      val clusters1 = Files.readAllBytes(Paths.get(root, "clusters", "manifest.json"))
      // lshBits is a SIGNATURES-stage param; scores/clusters params are
      // unchanged — without fingerprint chaining they would be served stale
      ErPipeline.run(spark, pages, ErPipeline.Config(outRoot = root, lshBits = 12))
      val scores2 = Files.readAllBytes(Paths.get(root, "scores", "manifest.json"))
      val clusters2 = Files.readAllBytes(Paths.get(root, "clusters", "manifest.json"))
      assert(scores2.toSeq !== scores1.toSeq,
        "scores stage must recompute when an upstream param changes")
      assert(clusters2.toSeq !== clusters1.toSeq,
        "clusters stage must recompute when an upstream param changes")
      // lshTables = 0 changes signatures() output (block_keys lose the LSH
      // keys) — it must invalidate the signatures stage and the chain
      val sigs2 = Files.readAllBytes(Paths.get(root, "signatures", "manifest.json"))
      ErPipeline.run(spark, pages,
        ErPipeline.Config(outRoot = root, lshBits = 12, lshTables = 0))
      val sigs3 = Files.readAllBytes(Paths.get(root, "signatures", "manifest.json"))
      val clusters3 = Files.readAllBytes(Paths.get(root, "clusters", "manifest.json"))
      assert(sigs3.toSeq !== sigs2.toSeq,
        "signatures stage must recompute when lshTables changes")
      assert(clusters3.toSeq !== clusters2.toSeq,
        "downstream stages must recompute when lshTables changes")
    } finally rmrf(root)
  }

  test("resume refuses a stage whose parquet no longer matches its lineage") {
    val root = tmpRoot()
    try {
      var computed = 0
      def make(): org.apache.spark.sql.DataFrame = {
        computed += 1
        spark.range(1000).toDF("id").repartition(4)
      }
      StageStore.runStage(spark, root, "s4", "v1", "fp")(make())
      assert(computed === 1)
      // normal-path resume: lineage aggregate matches, stage is read back
      StageStore.runStage(spark, root, "s4", "v1", "fp")(make()).count()
      assert(computed === 1)
      // corrupt the stage: drop one part file (valid parquet dir, fewer rows)
      val part = Files.list(Paths.get(root, "s4", "data.parquet"))
        .filter(p => p.getFileName.toString.startsWith("part-"))
        .findFirst().get()
      Files.delete(part)
      val e = intercept[IllegalStateException] {
        StageStore.runStage(spark, root, "s4", "v1", "fp")(make()).count()
      }
      assert(e.getMessage.contains("lineage"))
    } finally rmrf(root)
  }

  test("lineage refusal localizes the corruption to a named part file") {
    val root = tmpRoot()
    try {
      StageStore.runStage(spark, root, "s5", "v1", "fp") {
        spark.range(1000).toDF("id").repartition(4)
      }
      // clobber part B with a copy of part A: the directory still reads as
      // valid parquet, but partition B's content no longer matches its
      // recorded (rows, checksum) — the refusal must NAME file B
      val parts = Files.list(Paths.get(root, "s5", "data.parquet"))
        .filter(p => p.getFileName.toString.startsWith("part-"))
        .sorted().toArray(new Array[java.nio.file.Path](_))
      assert(parts.length >= 2)
      Files.copy(parts(0), parts(1),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      // keep Hadoop's local-FS .crc sidecar consistent with the new bytes:
      // the corruption under test is wrong CONTENT, not bit rot
      def crc(p: java.nio.file.Path) =
        p.resolveSibling("." + p.getFileName.toString + ".crc")
      if (Files.exists(crc(parts(0))))
        Files.copy(crc(parts(0)), crc(parts(1)),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      val e = intercept[IllegalStateException] {
        StageStore.runStage(spark, root, "s5", "v1", "fp") {
          spark.range(1000).toDF("id").repartition(4)
        }.count()
      }
      assert(e.getMessage.contains("lineage"))
      assert(e.getMessage.contains(parts(1).getFileName.toString),
        s"refusal must name the corrupt file: ${e.getMessage}")
      assert(!e.getMessage.contains(parts(0).getFileName.toString),
        "intact files must not be implicated")
    } finally rmrf(root)
  }

  test("pre-file-keying manifests resume via the keying-independent global check") {
    val root = tmpRoot()
    try {
      StageStore.runStage(spark, root, "s6", "v1", "fp") {
        spark.range(1000).toDF("id").repartition(4)
      }
      // rewrite the manifest as the OLD format: no stat_keying marker and
      // partition ids that don't correspond to part-file indexes (the old
      // code keyed by read-partition id) — resume must fall back to the
      // global (rows, xor) check instead of refusing intact data
      val mp = Paths.get(root, "s6", "manifest.json")
      var json = new String(Files.readAllBytes(mp))
      assert(json.contains("\"stat_keying\":\"file\""))
      json = json.replace("\"stat_keying\":\"file\",", "")
        .replace("\"partition\":0", "\"partition\":9")
      Files.write(mp, json.getBytes)
      var recomputed = false
      val df = StageStore.runStage(spark, root, "s6", "v1", "fp") {
        recomputed = true
        spark.range(1000).toDF("id").repartition(4)
      }
      assert(!recomputed, "legacy manifest must still skip recompute")
      assert(df.count() === 1000)
      // and genuine corruption still refuses under the legacy path
      val part = Files.list(Paths.get(root, "s6", "data.parquet"))
        .filter(p => p.getFileName.toString.startsWith("part-"))
        .findFirst().get()
      Files.delete(part)
      val e = intercept[IllegalStateException] {
        StageStore.runStage(spark, root, "s6", "v1", "fp") {
          spark.range(1000).toDF("id").repartition(4)
        }.count()
      }
      assert(e.getMessage.contains("lineage"))
    } finally rmrf(root)
  }

  test("full pipeline run resumes mid-pipeline with identical final output") {
    val root = tmpRoot()
    try {
      val pages = WebPageGen.pages(spark, 40L).toDF
      val cfg = ErPipeline.Config(outRoot = root)
      val first = ErPipeline.run(spark, pages, cfg)
      val firstClusters = first.clusters.collect().map(r => (r.getString(0), r.getString(1))).sorted

      // simulate kill-after-stage-k: drop the two final stage outputs
      rmrf(s"$root/scores"); rmrf(s"$root/clusters")
      val second = ErPipeline.run(spark, pages, cfg)
      val secondClusters = second.clusters.collect().map(r => (r.getString(0), r.getString(1))).sorted
      assert(firstClusters === secondClusters)

      // third run with nothing deleted: all stages skipped -> manifests byte-stable
      val m1 = Files.readAllBytes(Paths.get(root, "normalize", "manifest.json"))
      ErPipeline.run(spark, pages, cfg)
      val m2 = Files.readAllBytes(Paths.get(root, "normalize", "manifest.json"))
      assert(m1.toSeq === m2.toSeq, "skipped stage must not rewrite its manifest")
    } finally rmrf(root)
  }

  test("write-time lineage stats equal the read-back stats of every stage") {
    val root = tmpRoot()
    try {
      val fs = StageStore.fileSystem(spark, root)
      def recorded(stage: String) = StageStore.readManifest(fs, root, stage).get.partitions
      def readBack(stage: String) =
        StageStore.fileStats(spark.read.parquet(s"$root/$stage/data.parquet"))
          .map { case (idx, _, n, x) => StageStore.PartitionStat(idx, n, x) }.toSeq
          .sortBy(_.partition)
      def manifests(stages: Seq[String]) =
        stages.map(s => Files.readAllBytes(Paths.get(root, s, "manifest.json")).toSeq)

      val pages = WebPageGen.pages(spark, 40L).toDF
      val cfg = ErPipeline.Config(outRoot = root)
      ErPipeline.run(spark, pages, cfg)
      val stages = Seq("normalize", "signatures", "candidates", "scores", "clusters")
      stages.foreach { s =>
        assert(recorded(s).nonEmpty, s)
        assert(recorded(s) === readBack(s), s"stage $s")
      }
      val written = manifests(stages)
      ErPipeline.run(spark, pages, cfg)
      assert(manifests(stages) === written, "a re-run must resume every stage")

      // a frame with empty partitions (ids < 300 fill 3 of 8 range
      // partitions) and a zero-row stage: empty partitions record no stat
      Seq("gaps" -> (spark.range(0, 1000, 1, 8).filter(col("id") < 300), 300L, Seq(0, 1, 2)),
        "none" -> (spark.range(0, 100, 1, 4).filter(col("id") < 0), 0L, Nil)).foreach {
        case (s, (df, rows, parts)) =>
          var computed = 0
          def make() = { computed += 1; df.toDF("id") }
          assert(StageStore.runStage(spark, root, s, "v1", "fp")(make()).count() === rows)
          assert(recorded(s).map(_.partition) === parts, s)
          assert(recorded(s) === readBack(s), s"stage $s")
          assert(StageStore.runStage(spark, root, s, "v1", "fp")(make()).count() === rows)
          assert(computed === 1, s"stage $s must resume")
      }
    } finally rmrf(root)
  }

  test("committing a materialized frame runs one Spark job") {
    val root = tmpRoot()
    val df = spark.range(0, 1000, 1, 4).toDF("id").withColumn("v", col("id") * 3)
      .localCheckpoint()
    try {
      val (_, jobs) = jobsOf(StageStore.runStage(spark, root, "s7", "v1", "fp")(df))
      assert(jobs.size === 1, "the write is the commit's only job; nothing is read back")
    } finally rmrf(root)
  }

  test("resuming a committed stage runs one Spark job") {
    val root = tmpRoot()
    try {
      def make(): DataFrame = spark.range(0, 1000, 1, 4).toDF("id").withColumn("v", col("id") * 3)
      StageStore.runStage(spark, root, "s11", "v1", "fp")(make())
      val (resumed, jobs) =
        jobsOf(StageStore.runStage(spark, root, "s11", "v1", "fp")(fail("must resume")))
      assert(jobs.size === 1,
        "the lineage check is the resume's only job; the schema comes from the manifest")
      assert(resumed.count() === 1000)
      assert(resumed.schema.map(f => f.name -> f.dataType) ===
        make().schema.map(f => f.name -> f.dataType))
    } finally rmrf(root)
  }

  test("every job of a computed stage carries a SQL execution id") {
    val root = tmpRoot()
    try {
      // a shuffle: under AQE its map stage runs as a job of its own
      val (_, jobs) = jobsOf {
        StageStore.runStage(spark, root, "s12", "v1", "fp") {
          spark.range(0, 1000, 1, 4).toDF("id")
            .groupBy((col("id") % 10).as("k")).agg(count(lit(1)).as("n"))
        }
      }
      assert(jobs.size >= 2, s"expected a shuffle-stage job and the write job, got ${jobs.size}")
      val missing = jobs.count(_.properties.getProperty("spark.sql.execution.id") == null)
      assert(missing === 0, s"$missing of ${jobs.size} jobs ran outside a SQL execution")
    } finally rmrf(root)
  }

  test("a manifest without a schema resumes through inference and passes lineage") {
    val root = tmpRoot()
    try {
      var computed = 0
      def make(): DataFrame = {
        computed += 1
        spark.range(0, 1000, 1, 4).toDF("id").withColumn("s", col("id").cast("string"))
      }
      StageStore.runStage(spark, root, "s13", "v1", "fp")(make())
      val fs = StageStore.fileSystem(spark, root)
      assert(StageStore.readManifest(fs, root, "s13").get.schema.isDefined)
      // the manifest format written before the schema was recorded
      editManifest(root, "s13")(_.remove("schema"))
      assert(StageStore.readManifest(fs, root, "s13").get.schema.isEmpty)
      val df = StageStore.runStage(spark, root, "s13", "v1", "fp")(make())
      assert(computed === 1, "a manifest without a schema must still resume")
      assert(df.count() === 1000 && df.columns.toSeq === Seq("id", "s"))
      // and its lineage is still checked
      val part = Files.list(Paths.get(root, "s13", "data.parquet"))
        .filter(p => p.getFileName.toString.startsWith("part-"))
        .findFirst().get()
      Files.delete(part)
      val e = intercept[IllegalStateException] {
        StageStore.runStage(spark, root, "s13", "v1", "fp")(make())
      }
      assert(e.getMessage.contains("lineage"))
    } finally rmrf(root)
  }

  test("a truncated manifest or one with an unparsable schema reads as absent") {
    val root = tmpRoot()
    try {
      var computed = 0
      def make(): DataFrame = { computed += 1; spark.range(0, 100, 1, 2).toDF("id") }
      val fs = StageStore.fileSystem(spark, root)
      val mp = Paths.get(root, "s14", "manifest.json")
      StageStore.runStage(spark, root, "s14", "v1", "fp")(make())
      val intact = Files.readAllBytes(mp)

      Files.write(mp, intact.take(intact.length / 2))
      assert(StageStore.readManifest(fs, root, "s14").isEmpty)
      assert(StageStore.runStage(spark, root, "s14", "v1", "fp")(make()).count() === 100)
      assert(computed === 2, "a truncated manifest must recompute the stage")
      assert(StageStore.readManifest(fs, root, "s14").isDefined, "the manifest is rewritten")

      Seq[ObjectNode => Unit](
        _.put("schema", "not a schema"),
        _.put("schema", "integer"),
        _.putObject("schema").put("type", "no-such-type")).zipWithIndex.foreach {
        case (edit, i) =>
          editManifest(root, "s14")(edit)
          assert(StageStore.readManifest(fs, root, "s14").isEmpty, s"edit $i")
          assert(StageStore.runStage(spark, root, "s14", "v1", "fp")(make()).count() === 100)
          assert(computed === 3 + i, s"edit $i: an unparsable schema must recompute the stage")
      }
    } finally rmrf(root)
  }

  test("a file:-scheme root keeps its manifest under the root and resumes") {
    val root = tmpRoot()
    val stray = Paths.get("file:")
    val strayBefore = Files.exists(stray)
    try {
      var computed = 0
      def make() = { computed += 1; spark.range(100).toDF("id") }
      StageStore.runStage(spark, s"file:$root", "s8", "v1", "fp")(make()).count()
      assert(Files.exists(Paths.get(root, "s8", "manifest.json")),
        "the manifest must be written under the root")
      assert(StageStore.runStage(spark, s"file:$root", "s8", "v1", "fp")(make()).count() === 100)
      assert(computed === 1, "a file: root must resume without recompute")
      assert(strayBefore || !Files.exists(stray),
        "no relative file: directory may appear in the working directory")
    } finally {
      rmrf(root)
      if (!strayBefore) rmrf(stray.toString)
    }
  }

  test("a stage recomputed from its own previous data is refused, old files intact") {
    val root = tmpRoot()
    try {
      def parts() = {
        val dir = Paths.get(root, "s9", "data.parquet")
        val listing = Files.list(dir)
        try listing.iterator().asScala.filter(_.getFileName.toString.startsWith("part-"))
          .map(p => p.getFileName.toString -> Files.readAllBytes(p).toSeq).toMap
        finally listing.close()
      }
      val a = StageStore.runStage(spark, root, "s9", "v1", "fp-A") {
        spark.range(0, 1000, 1, 4).toDF("id")
      }
      val before = parts()
      assert(before.nonEmpty)
      val e = intercept[Exception] {
        StageStore.runStage(spark, root, "s9", "v1", "fp-B")(a.filter(col("id") % 2 === 0))
      }
      assert(e.getMessage.toLowerCase.contains("overwrite"), e.getMessage)
      assert(parts() === before)
      assert(StageStore.runStage(spark, root, "s9", "v1", "fp-A")(fail("must resume"))
        .count() === 1000)
    } finally rmrf(root)
  }

  test("a kill between the data write and the manifest never resumes the new rows") {
    val root = tmpRoot()
    try {
      // same row count in every partition: only the checksums tell A from B
      def stageA = spark.range(0, 1000, 1, 4).toDF("id")
      def stageB = spark.range(5000, 6000, 1, 4).toDF("id")
      StageStore.runStage(spark, root, "s10", "v1", "fp-A")(stageA)
      val mp = Paths.get(root, "s10", "manifest.json")
      val manifestA = Files.readAllBytes(mp)
      StageStore.runStage(spark, root, "s10", "v1", "fp-B")(stageB)
      // the kill: B's data is in place, its manifest rename never happened
      Files.write(mp, manifestA)
      val ids =
        try Some(StageStore.runStage(spark, root, "s10", "v1", "fp-A")(stageA)
          .collect().map(_.getLong(0)).sorted.toSeq)
        catch { case e: IllegalStateException if e.getMessage.contains("lineage") => None }
      ids.foreach { got =>
        assert(got.sameElements(0L until 1000L),
          s"resumed ${got.size} rows starting at ${got.headOption} instead of A's 0 until 1000")
      }
    } finally rmrf(root)
  }

  test("compaction: fewer range-disjoint files, content byte-preserved") {
    import spark.implicits._
    val local = Files.createTempDirectory("graft_compact_spec")
    // the same pass on a plain path and on a `file:` URI root: both the
    // parquet IO and the part-file listing resolve through Hadoop
    try for (root <- Seq(s"$local/plain", local.resolve("uri").toUri.toString)) {
      val src = (0L until 1000L).map(i => (i, s"doc$i", (i % 7).toString))
        .toDF("doc_id", "body", "tag")
      src.repartition(16).write.mode("overwrite").parquet(s"$root/frag")
      assert(graft.plans.Compaction.partFiles(spark, s"$root/frag").size === 16)
      val st = graft.plans.Compaction.compact(
        spark, s"$root/frag", s"$root/out", "doc_id", 250L)
      assert(st.rows === 1000L && st.filesBefore === 16 && st.filesAfter === 4)
      val out = spark.read.parquet(s"$root/out")
      // exact content, order-free
      assert(out.orderBy("doc_id").collect().toSeq ===
        src.orderBy("doc_id").collect().toSeq)
      // per-file doc_id ranges disjoint -> footer stats prune scans
      val ranges = out.groupBy(input_file_name().as("f"))
        .agg(min("doc_id").as("lo"), max("doc_id").as("hi"))
        .orderBy("lo").collect()
      assert(ranges.length === 4)
      ranges.sliding(2).foreach {
        case Array(a, b) => assert(a.getLong(2) < b.getLong(1))
        case _ =>
      }
    } finally rmrf(local.toString)
  }
}
