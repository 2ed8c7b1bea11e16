package graft.core

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.util.ShutdownHookManager
import org.apache.spark.sql.SparkSession

/** Scratch artifacts: directories a run writes for its own use and hands
  * to no caller as a result — streaming sinks, checkpoints and staged
  * stream inputs, and the catalog's bucketed tables, ANN index roots and
  * compaction roots. This module decides where each one lives and when it
  * is deleted, all on the path's Hadoop `FileSystem`, so plain paths and
  * `file:`/`hdfs:`/`s3a:` URIs behave alike.
  *
  *  - Naming: `<parent>/<family><appId>_<key>`, lower case. The
  *    application id keeps concurrent drivers that share a parent apart,
  *    and a lower-case name doubles as a table name whose warehouse
  *    location Spark spells the same way.
  *  - Exit sweep: every registered artifact is deleted when the JVM exits.
  *    An artifact cannot be deleted earlier, because a returned DataFrame
  *    may still read it. The sweep runs in Hadoop's shutdown-hook manager
  *    ahead of the hook that closes cached file systems, so it still
  *    reaches a non-local store.
  *  - Stale siblings: the exit sweep cannot run on SIGKILL or an OOM kill,
  *    and a dead run's names never match a later application id. So each
  *    registration also deletes the siblings of its family that are older
  *    than 6 hours (`StaleMs`). That is safe against live drivers sharing
  *    the parent: their artifacts are written minutes before they are
  *    read, so only a killed run's leftovers age past the bound.
  */
object Scratch {

  val StaleMs: Long = 6L * 3600 * 1000

  private val registered = new ConcurrentHashMap[Path, FileSystem]()
  private val seq = new AtomicLong()

  private lazy val exitSweep: Unit = ShutdownHookManager.get().addShutdownHook(
    () => registered.forEach((p: Path, fs: FileSystem) =>
      try fs.delete(p, true) catch { case NonFatal(_) => () }),
    FileSystem.SHUTDOWN_HOOK_PRIORITY + 1)

  def fileSystem(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Recursive delete; a missing path is not an error. */
  def delete(spark: SparkSession, path: String): Unit =
    fileSystem(spark, path).delete(new Path(path), true)

  /** The app-scoped artifact `key` of `family` under `parent`, registered
    * for the exit sweep after the family's stale siblings are deleted.
    * The directory is not created.
    */
  def dir(spark: SparkSession, family: String, key: String,
      parent: String = System.getProperty("java.io.tmpdir")): String = {
    val appId = spark.sparkContext.applicationId
    val path = new Path(parent,
      s"$family${appId}_$key".replaceAll("[^A-Za-z0-9_]", "_").toLowerCase)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    sweepStale(fs, path.getParent, family)
    exitSweep
    registered.put(path, fs)
    path.toString
  }

  /** A `dir` under java.io.tmpdir that no earlier call returned: for
    * artifacts each call writes afresh.
    */
  def fresh(spark: SparkSession, family: String, tag: String): String =
    dir(spark, family, s"${tag}_${seq.incrementAndGet()}")

  private def sweepStale(fs: FileSystem, parent: Path, family: String): Unit = {
    val cutoff = System.currentTimeMillis() - StaleMs
    val siblings =
      try fs.listStatus(parent).toSeq
      catch { case _: java.io.IOException => Seq.empty } // no parent yet
    siblings
      .filter(s => s.getPath.getName.startsWith(family) && s.getModificationTime < cutoff)
      .foreach(s => try fs.delete(s.getPath, true) catch { case NonFatal(_) => () })
  }
}
