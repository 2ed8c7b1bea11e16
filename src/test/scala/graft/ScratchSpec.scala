package graft

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime

import graft.core.Scratch
import graft.streaming.StreamingOps

/** The one scratch-artifact lifecycle: app-scoped names, the stale-sibling
  * sweep and the stream staging, on the path's Hadoop FileSystem.
  */
class ScratchSpec extends SparkSpec {
  import spark.implicits._

  private def age(p: Path): Unit =
    Files.setLastModifiedTime(p,
      FileTime.fromMillis(System.currentTimeMillis() - Scratch.StaleMs - 3600L * 1000))

  test("stale app-scoped artifacts are GC'd; fresh and unrelated ones survive") {
    // A SIGKILLed run's staged artifacts never match a later appId, so
    // staging sweeps same-family siblings older than the stale bound —
    // and must NOT touch fresh siblings (concurrent live drivers) or
    // other families.
    val parent = Files.createTempDirectory("graft_gc_spec")
    try {
      val stale = Files.createDirectory(parent.resolve("fam_dead_app"))
      Files.write(stale.resolve("part-0"), Array[Byte](1, 2, 3))
      val fresh = Files.createDirectory(parent.resolve("fam_live_app"))
      val other = Files.createDirectory(parent.resolve("other_family"))
      age(stale); age(other)
      val mine = Scratch.dir(spark, "fam_", "spec", parent.toString)
      assert(mine.startsWith(s"$parent/fam_"), mine)
      assert(!Files.exists(stale), "stale same-family artifact must be swept")
      assert(Files.exists(fresh), "fresh sibling must survive (live driver)")
      assert(Files.exists(other), "other families must never be touched")
    } finally Scratch.delete(spark, parent.toString)
  }

  test("a streaming run sweeps a killed run's stale graft_stream_ directories") {
    val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    val dead = Files.createDirectories(
      tmp.resolve(s"graft_stream_killed_${System.nanoTime()}/chk"))
    val events = Files.createTempDirectory("graft_sweep_events").resolve("ev").toString
    try {
      Seq((java.sql.Timestamp.valueOf("2026-01-01 00:10:00"), "click", 1.0))
        .toDF("ts", "event_type", "value").write.parquet(events)
      age(dead.getParent)
      StreamingOps.windowedEventAgg(spark, events).count()
      assert(!Files.exists(dead.getParent), s"stale ${dead.getParent} survived a streaming run")
    } finally {
      Scratch.delete(spark, dead.getParent.toString)
      Scratch.delete(spark, new java.io.File(events).getParent)
    }
  }

  test("stream staging lists, moves and re-times files on a file: URI directory") {
    val local = Files.createTempDirectory("graft_stage_uri")
    val inDir = local.toUri.toString.stripSuffix("/")
    assert(inDir.startsWith("file:"), inDir)
    try {
      StreamingOps.stageOne(inDir, Seq(1L, 2L).toDF("v"), "a.parquet", 1000000000000L)
      // the empty frame writes no partition directory and takes stageOne
      StreamingOps.stageMany(inDir, Seq(
        (Seq(3L).toDF("v"), "b.parquet", 1000000001000L),
        (Seq.empty[Long].toDF("v"), "c.parquet", 1000000002000L)))
      val files = Files.list(local)
      val staged =
        try files.toArray.map(_.asInstanceOf[Path]).filter(p => !p.getFileName.toString.startsWith("."))
        finally files.close()
      assert(staged.map(p => p.getFileName.toString -> Files.getLastModifiedTime(p).toMillis)
        .sorted.toSeq === Seq("a.parquet" -> 1000000000000L, "b.parquet" -> 1000000001000L,
          "c.parquet" -> 1000000002000L))
      assert(spark.read.parquet(inDir).as[Long].collect().sorted.toSeq === Seq(1L, 2L, 3L))
    } finally Scratch.delete(spark, local.toString)
  }
}
