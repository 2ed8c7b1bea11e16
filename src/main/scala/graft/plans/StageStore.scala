package graft.plans

import java.nio.charset.StandardCharsets

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.{Success, Try}

import com.fasterxml.jackson.core.JsonProcessingException
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.{ChecksumFileSystem, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection, XxHash64}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Checkpointed stage tables with per-partition lineage + metrics —
  * the resume layer the north rule requires. The reference's analogue is
  * the six SQL stage tables + uuid consistency guards
  * (idrt/algorithm/utils.py:73-86, run_search.py:239-270); here every
  * stage writes partitioned parquet plus a `manifest.json` recording the
  * pipeline version, the inputs' fingerprints, the stage parameters and
  * per-partition row counts/checksums. A re-run whose (version, inputs,
  * params) fingerprint matches the manifest skips the stage and reads the
  * parquet back — i.e. kill-at-stage-k resumes at k+1.
  *
  * A commit is the stage's write job and no other job, with writer-side
  * file stats as in Iceberg's commit protocol: the write tasks fold each
  * part file's (rows, checksum) while writing it, the stage's data
  * directory is then listed, and the manifest is written to a temp file
  * and renamed into place last, all on the root's Hadoop `FileSystem`.
  * The stage is not read back to compute its stats.
  *
  * A resume is one job. As in Iceberg, the schema lives in the table
  * metadata: the manifest records the committed frame's schema, so the
  * parquet is opened without a schema-inference job, and the lineage
  * check recomputes every file's stats in one single-stage pass.
  *
  * This sandbox has no Iceberg runtime (SURVEY.md par.7.4); the manifest
  * emulates the snapshot metadata an Iceberg table would carry, behind
  * this one object so a real catalog can be slotted in.
  */
object StageStore {

  final case class PartitionStat(partition: Int, rows: Long, checksum: Long)

  final case class Manifest(
      stage: String,
      pipelineVersion: String,
      inputsFingerprint: String,
      params: Map[String, String],
      rows: Long,
      partitions: Seq[PartitionStat],
      wallClockSec: Double,
      writtenAtMs: Long,
      /** true when partition stats are keyed by part-FILE index (the
        * current format); manifests written before that change keyed by
        * read-partition id and verify through the keying-independent
        * global aggregate instead — no spurious corruption refusal.
        */
      fileKeyedStats: Boolean = true,
      /** The committed frame's schema; None in manifests written before
        * the schema was recorded, which resume through schema inference.
        */
      schema: Option[StructType] = None)

  private val Json = new ObjectMapper()

  /** Compact, fixed field order; `stat_keying` only on file-keyed stats,
    * `schema` (the `StructType` JSON, as an object) only when known.
    */
  def toJson(m: Manifest): String = {
    val o = Json.createObjectNode()
      .put("stage", m.stage)
      .put("pipeline_version", m.pipelineVersion)
      .put("inputs_fingerprint", m.inputsFingerprint)
    val params = o.putObject("params")
    m.params.toSeq.sortBy(_._1).foreach { case (k, v) => params.put(k, v) }
    if (m.fileKeyedStats) o.put("stat_keying", "file")
    o.put("rows", m.rows)
    val parts = o.putArray("partitions")
    m.partitions.sortBy(_.partition).foreach { p =>
      parts.addObject().put("partition", p.partition).put("rows", p.rows)
        .put("checksum", p.checksum)
    }
    o.put("wall_clock_sec", m.wallClockSec).put("written_at_ms", m.writtenAtMs)
    m.schema.foreach(t => o.set[JsonNode]("schema", Json.readTree(t.json)))
    Json.writeValueAsString(o)
  }

  /** Stable fingerprint of a DataFrame's content: order-insensitive sum of
    * per-row 64-bit hashes over all columns. Used to fingerprint stage
    * inputs for resume decisions. One extra pass over the input — callers
    * fingerprint cheap identifiers (e.g. url + warc_ts), not whole rows.
    */
  def fingerprint(df: DataFrame): String = {
    val row = df
      .select(xxhash64(df.columns.map(col): _*).as("h"))
      .agg(bit_xor(col("h")).as("s"), count(lit(1)).as("n"))
      .head()
    val s = if (row.isNullAt(0)) 0L else row.getLong(0)
    s"${java.lang.Long.toHexString(s)}-${row.getLong(1)}"
  }

  private def manifestPath(root: String, stage: String) =
    new Path(root, s"$stage/manifest.json")

  private def dataPath(root: String, stage: String) =
    s"$root/$stage/data.parquet"

  /** The file system of a stage root. Hadoop's local one is used without
    * its checksum layer: that layer would add `.crc` sidecars to manifests,
    * and a manifest is checked by parsing it.
    */
  private[graft] def fileSystem(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration) match {
      case c: ChecksumFileSystem => c.getRawFileSystem
      case fs => fs
    }

  /** None when the stage has no manifest, or one that is not a manifest:
    * unparsable (e.g. truncated) JSON, a missing identity field, or a
    * `schema` that is not a `StructType` (the stage is then recomputed and
    * the manifest rewritten).
    */
  private[graft] def readManifest(fs: FileSystem, root: String, stage: String): Option[Manifest] = {
    val p = manifestPath(root, stage)
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    val bytes = try in.readAllBytes() finally in.close()
    val j =
      try Json.readTree(bytes)
      catch { case _: JsonProcessingException => return None }
    def text(name: String): Option[String] =
      Option(j.get(name)).filter(_.isTextual).map(_.asText)
    val schema = j.get("schema") match {
      case null => None
      case t => Try(DataType.fromJson(t.toString)) match {
        case Success(s: StructType) => Some(s)
        case _ => return None
      }
    }
    for {
      st <- text("stage")
      v <- text("pipeline_version")
      f <- text("inputs_fingerprint")
    } yield Manifest(st, v, f,
      j.path("params").properties().asScala.map(e => e.getKey -> e.getValue.asText).toMap,
      j.path("rows").asLong,
      j.path("partitions").asScala.map(e => PartitionStat(
        e.path("partition").asInt, e.path("rows").asLong, e.path("checksum").asLong)).toSeq,
      j.path("wall_clock_sec").asDouble,
      j.path("written_at_ms").asLong,
      fileKeyedStats = j.path("stat_keying").asText == "file",
      schema = schema)
  }

  /** Temp file, then rename: a reader sees the old manifest or the new
    * one, never a partial one. Where a rename does not replace an existing
    * file, the old manifest is deleted first; a kill in between leaves no
    * manifest, and the stage is recomputed.
    */
  private def writeManifest(fs: FileSystem, root: String, stage: String, json: String): Unit = {
    val dst = manifestPath(root, stage)
    val tmp = new Path(root, s"$stage/manifest.json.tmp")
    val out = fs.create(tmp, true)
    try out.write(json.getBytes(StandardCharsets.UTF_8)) finally out.close()
    if (!fs.rename(tmp, dst) && !(fs.delete(dst, false) && fs.rename(tmp, dst)))
      throw new java.io.IOException(s"could not rename $tmp to $dst")
  }

  private val PartIdx = "part-(\\d+)".r

  /** Per-file (row count, xor of row hashes) over a stage's parquet,
    * keyed by the part index in the FILE NAME segment (the directory path
    * may itself contain "part-<digits>"). One single-stage job: each task
    * folds each run of rows from one file into a (rows, xor) triple, and
    * the driver merges the triples by file. Keying by input_file_name
    * (not spark_partition_id) keeps the key stable even when a large part
    * file splits into several read partitions; count and xor are
    * associative, so the pieces merge back to the file's stats.
    */
  private[graft] def fileStats(df: DataFrame): Array[(Int, String, Long, Long)] = {
    val hashed = df.select(input_file_name(), xxhash64(df.columns.map(col): _*))
    val runs = underExecution(hashed, "lineage check") {
      hashed.queryExecution.toRdd.mapPartitions { it =>
        val out = mutable.ArrayBuffer.empty[(String, Long, Long)]
        var file: UTF8String = null
        var n = 0L
        var x = 0L
        it.foreach { r =>
          val f = r.getUTF8String(0)
          if (f != file) {
            if (file != null) out += ((file.toString, n, x))
            file = f.clone()
            n = 0L
            x = 0L
          }
          n += 1
          x ^= r.getLong(1)
        }
        if (file != null) out += ((file.toString, n, x))
        out.iterator
      }.collect()
    }
    runs.groupMapReduce(_._1)(r => (r._2, r._3)) { case ((n1, x1), (n2, x2)) =>
      (n1 + n2, x1 ^ x2)
    }.toArray.map { case (file, (n, x)) =>
      val name = file.substring(file.lastIndexOf('/') + 1)
      val idx = PartIdx.findFirstMatchIn(name).map(_.group(1).toInt).getOrElse(-1)
      (idx, file, n, x)
    }
  }

  /** Runs `body`, which materializes `df`'s plan through its RDD, as one
    * SQL execution of that plan, so every job it starts (AQE's shuffle
    * stages included) carries an execution id for SQL listeners.
    */
  private def underExecution[T](df: DataFrame, name: String)(body: => T): T =
    SQLExecution.withNewExecutionId(df.queryExecution, Some(name))(body)

  /** Read-side lineage check (north rule: per-partition lineage must be
    * USED, not just recorded): before a stage is resumed from its parquet,
    * recompute the per-file (row count, xor of row hashes) aggregates and
    * compare each against the manifest's recorded partition stats — a
    * corrupted, truncated, or partially-deleted stage refuses to resume
    * instead of silently feeding bad rows downstream, and the refusal
    * NAMES the offending file(s) so the operator can act on it. One
    * column-complete, single-stage pass over the stage data; no
    * recompute of the stage.
    */
  private def verifyLineage(df: DataFrame, m: Manifest, root: String, stage: String): Unit = {
    // legacy manifest without stats; a file-keyed one without stats is a
    // zero-row stage, whose files must then hold no rows
    if (m.partitions.isEmpty && !m.fileKeyedStats) return
    if (!m.fileKeyedStats) {
      // pre-file-keying manifest (stats keyed by read-partition id): the
      // per-stat keys don't align with part files, but the XOR of all
      // checksums and the total row count are keying-independent — verify
      // globally instead of refusing intact data as corrupted
      val expectXor = m.partitions.map(_.checksum).foldLeft(0L)(_ ^ _)
      val (n, x) = fileStats(df).foldLeft((0L, 0L)) { case ((n, x), (_, _, fn, fx)) =>
        (n + fn, x ^ fx)
      }
      if (n != m.rows || x != expectXor)
        throw new IllegalStateException(
          s"stage '$stage' parquet at $root/$stage does not match its manifest lineage " +
            s"(rows $n vs ${m.rows}, checksum $x vs $expectXor) " +
            "— the stage data is corrupted or truncated; clear the stage directory to rebuild")
      return
    }
    val perFile = fileStats(df)
    val expect = m.partitions.map(p => p.partition -> p).toMap
    val problems = mutable.ArrayBuffer.empty[String]
    perFile.foreach { case (idx, file, n, x) =>
      expect.get(idx) match {
        case None =>
          problems += s"file $file is not in the manifest (partition $idx)"
        case Some(p) if p.rows != n || p.checksum != x =>
          problems += s"file $file diverges from manifest partition $idx " +
            s"(rows $n vs ${p.rows}, checksum $x vs ${p.checksum})"
        case _ => ()
      }
    }
    val seen = perFile.map(_._1).toSet
    expect.keysIterator.filterNot(seen).toSeq.sorted.foreach { idx =>
      problems += s"manifest partition $idx (rows ${expect(idx).rows}) has no file on disk"
    }
    if (problems.nonEmpty)
      throw new IllegalStateException(
        s"stage '$stage' parquet at $root/$stage does not match its manifest lineage: " +
          problems.mkString("; ") +
          " — the stage data is corrupted or truncated; clear the stage directory to rebuild")
  }

  /** A skipped stage must also match its parameters; params are folded
    * into the stored fingerprint string.
    */
  private def fullFingerprint(inputsFp: String, params: Map[String, String]): String =
    inputsFp + "|" + params.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(",")

  /** Writes `out` as the stage's parquet in one job and returns each
    * non-empty part file's (index, rows, checksum), folded by the write
    * tasks as they consume their rows. A write task's partition index is
    * its `part-NNNNN` file index. The checksum is the xor of
    * `xxhash64(all columns)`, the value `fileStats` recomputes on read.
    * Stats are keyed by partition, so a retried task counts once. The
    * write runs inside one SQL execution of `out`'s plan, so the jobs that
    * materialize its shuffle stages carry an execution id like the write's.
    */
  private def writeWithStats(
      spark: SparkSession, out: DataFrame, path: String): Seq[PartitionStat] = {
    val hash = new XxHash64(out.schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
      BoundReference(i, f.dataType, nullable = true)
    })
    val acc = spark.sparkContext.collectionAccumulator[PartitionStat]
    // lazy: toRdd plans `out` and, under AQE, runs its shuffle stages, so
    // it is first forced inside the commit's SQL execution
    lazy val rows = out.queryExecution.toRdd.mapPartitionsWithIndex { (idx, it) =>
      val h = UnsafeProjection.create(Seq(hash))
      var n = 0L
      var x = 0L
      var done = false
      new Iterator[InternalRow] {
        def hasNext: Boolean = {
          val more = it.hasNext
          if (!more && !done) {
            done = true
            if (n > 0) acc.add(PartitionStat(idx, n, x))
          }
          more
        }
        def next(): InternalRow = {
          val r = it.next()
          n += 1
          x ^= h(r).getLong(0)
          r
        }
      }
    }
    underExecution(out, "stage commit") {
      GraftBridge.dataFrame(spark, rows, out.schema).write.mode("overwrite").parquet(path)
    }
    acc.value.asScala.map(p => p.partition -> p).toMap.values.toSeq.sortBy(_.partition)
  }

  /** Run (or resume) one stage. `compute` is only invoked when the stored
    * manifest does not match (version, inputs, params). A computed stage
    * is committed by its write job alone: its per-part-file lineage stats
    * are taken while it is written, its data directory is listed on the
    * root's `FileSystem`, and the manifest, which records the computed
    * schema, is renamed into place last. The returned frame reads the
    * written parquet with that schema. A resumed stage reads the parquet
    * with the manifest's schema (a manifest without one infers it) and is
    * returned once its lineage check, one job, passes.
    */
  def runStage(
      spark: SparkSession,
      root: String,
      stage: String,
      pipelineVersion: String,
      inputsFingerprint: String,
      params: Map[String, String] = Map.empty)(compute: => DataFrame): DataFrame = {
    val fp = fullFingerprint(inputsFingerprint, params)
    val fs = fileSystem(spark, root)
    val path = dataPath(root, stage)
    readManifest(fs, root, stage) match {
      case Some(m) if m.pipelineVersion == pipelineVersion && m.inputsFingerprint == fp =>
        val df = m.schema.fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))
        verifyLineage(df, m, root, stage)
        df
      case Some(m) if m.pipelineVersion != pipelineVersion =>
        // model-consistency guard analogue (G2): refuse silent lineage mixing
        throw new IllegalStateException(
          s"stage '$stage' was written by pipeline version '${m.pipelineVersion}', " +
            s"current is '$pipelineVersion'; clear $root/$stage to rebuild")
      case _ =>
        val t0 = System.nanoTime()
        val out = compute
        // the overwrite deletes the stage's old files before the write
        // tasks read `out`'s input, so a compute that reads this stage's
        // own files would lose them; Spark does not refuse that for a
        // path write, so refuse here, before anything is deleted
        val dir = fs.makeQualified(new Path(path))
        out.inputFiles.find { f =>
          Iterator.iterate(new Path(new java.net.URI(f)))(_.getParent)
            .takeWhile(_ != null).contains(dir)
        }.foreach { f =>
          throw new IllegalArgumentException(
            s"stage '$stage' cannot overwrite $dir: its compute reads $f from it")
        }
        val stats = writeWithStats(spark, out, path)
        // write-time guards, from one listing of the data directory: an
        // unparsable or duplicate part index would collapse keys in the
        // read-side expect map and make every later resume of INTACT data
        // refuse as "corrupted", and a partition with rows but no file
        // would be recorded yet never be readable — fail loudly now,
        // naming the files, instead. Names starting with '_' or '.' are
        // not data files (Spark's reader skips them too).
        val files = fs.listStatus(dir).toSeq.map(_.getPath.getName)
          .filterNot(n => n.startsWith("_") || n.startsWith("."))
          .map(n => PartIdx.findFirstMatchIn(n).map(_.group(1).toInt).getOrElse(-1) -> n)
        files.filter(_._1 < 0).foreach { case (_, name) =>
          throw new IllegalStateException(
            s"stage '$stage' wrote part file '$name' whose name has no parsable " +
              "part-<index> segment; manifest lineage would be ambiguous")
        }
        files.groupBy(_._1).filter(_._2.length > 1).foreach { case (idx, dup) =>
          throw new IllegalStateException(
            s"stage '$stage' wrote multiple part files with index $idx: " +
              dup.map(_._2).mkString(", ") + "; manifest lineage would be ambiguous")
        }
        val onDisk = files.map(_._1).toSet
        stats.filterNot(p => onDisk(p.partition)).foreach { p =>
          throw new IllegalStateException(
            s"stage '$stage' wrote ${p.rows} rows in partition ${p.partition} " +
              s"but no part file with that index is in $dir")
        }
        val manifest = Manifest(
          stage, pipelineVersion, fp, params,
          stats.map(_.rows).sum, stats,
          (System.nanoTime() - t0) / 1e9, System.currentTimeMillis(), schema = Some(out.schema))
        writeManifest(fs, root, stage, toJson(manifest))
        spark.read.schema(out.schema).parquet(path)
    }
  }
}
