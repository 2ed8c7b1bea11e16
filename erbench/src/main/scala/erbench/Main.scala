package erbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark entry point. Runs one workload as a closed loop (one driver
  * thread, one action at a time) and writes the result as JSON to `--out`.
  *
  * Usage: erbench.Main --workload
  *   <er_batch|er_incremental|er_incremental_global|catalog>
  *   --seed <n> --seconds <s> --trace <0|1> --work <dir> --out <file>
  *   [--sf-dir <dir>] [--rows <catalog_rows.json>] [--entities <n>]
  */
object Main {

  final case class Args(
      workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: Path, out: Path, sfDir: Option[String], rows: Option[Path],
      entities: Option[Long])

  private def parse(argv: Array[String]): Args = {
    val kv = argv.indices.collect {
      case i if argv(i).startsWith("--") && i + 1 < argv.length && !argv(i + 1).startsWith("--") =>
        argv(i).drop(2) -> argv(i + 1)
    }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(
      workload = need("workload"),
      seed = kv.getOrElse("seed", "1").toLong,
      seconds = kv.getOrElse("seconds", "10").toDouble,
      trace = kv.getOrElse("trace", "0") == "1",
      work = Paths.get(need("work")).toAbsolutePath,
      out = Paths.get(need("out")).toAbsolutePath,
      sfDir = kv.get("sf-dir"),
      rows = kv.get("rows").map(Paths.get(_)),
      entities = kv.get("entities").map(_.toLong))
  }

  /** A metric as reported: name, value, unit. */
  final case class Metric(name: String, value: Double, unit: String)

  /** What a workload hands back. `info` is the disclosure block. */
  final case class Outcome(
      attempted: Int, failed: Int, metrics: Seq[Metric],
      info: Seq[(String, Any)], trace: Seq[(String, Any)] = Nil)

  /** The session graft.Bench builds, at the scheduler width of this host.
    * The launcher sets the same heap (-Xmx) on the JVM; local and warehouse
    * directories stay inside the benchmark's work directory.
    */
  def session(work: Path): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors().toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", "1024")
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.memory", sys.env.getOrElse("SPARK_DRIVER_MEM", "8g"))
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def loadAvg(): Double =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double =
    try {
      val line = new String(Files.readAllBytes(Paths.get("/proc/self/status")))
        .split("\n").find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024.0
    } catch { case _: Throwable => -1.0 }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** A progress line on stderr, stamped with seconds since JVM start. */
  def progress(msg: String): Unit = {
    val up = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    System.err.println(f"erbench: [$up%6.1f s] $msg")
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(a.work)
    val loadStart = loadAvg()
    val spark = session(a.work)
    // JVM start to a usable session: the first part of every set-up
    val sessionS =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val out =
      try a.workload match {
        case "er_batch" => ErWorkloads.batch(spark, a, sessionS)
        case "er_incremental" => ErWorkloads.incremental(spark, a, sessionS, reuseClusters = true)
        case "er_incremental_global" =>
          ErWorkloads.incremental(spark, a, sessionS, reuseClusters = false)
        case "catalog" => CatalogWorkload.run(spark, a, sessionS)
        case w => throw new IllegalArgumentException(s"unknown workload '$w'")
      } finally spark.stop()

    val info = Seq(
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "run_seconds" -> a.seconds,
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "load_avg_start" -> loadStart, "load_avg_end" -> loadAvg(),
      "jvm" -> System.getProperty("java.version"),
      "spark" -> org.apache.spark.SPARK_VERSION,
      "xmx_mb" -> Runtime.getRuntime.maxMemory() / (1024 * 1024),
      "failed_ratio" -> out.failed.toDouble / math.max(out.attempted, 1)) ++ out.info
    val result = Json.obj(Seq(
      "correct" -> (out.failed == 0),
      "attempted" -> out.attempted,
      "failed" -> out.failed,
      "metrics" -> Json.Raw(Json.obj(out.metrics.map(m =>
        m.name -> Json.Raw(Json.obj(Seq("value" -> m.value, "unit" -> m.unit))))))))
    val doc = Json.obj(Seq(
      "result" -> Json.Raw(result),
      "info" -> Json.Raw(Json.obj(info)),
      "trace" -> Json.Raw(Json.obj(out.trace))))
    Files.write(a.out, (doc + "\n").getBytes(StandardCharsets.UTF_8))
  }
}

/** Minimal JSON writer for the flat result documents. */
object Json {
  final case class Raw(s: String)

  private def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  def value(v: Any): String = v match {
    case Raw(s) => s
    case null | None => "null"
    case Some(x) => value(x)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n @ (_: Int | _: Long | _: Boolean) => n.toString
    case s: String => "\"" + esc(s) + "\""
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }.sortBy(_._1))
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => "\"" + esc(other.toString) + "\""
  }

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => "\"" + esc(k) + "\":" + value(v) }.mkString("{", ",", "}")
}

/** Collects output checks: each failed check is named, and an operation
  * fails when any of its checks fails or it throws.
  */
final class Checks {
  val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty[String]
  var attempted = 0
  var failed = 0

  /** Runs one operation and its checks; returns the operation's value. */
  def op[T](name: String)(body: (String => Boolean => Unit) => T): Option[T] = {
    attempted += 1
    val before = failures.length
    val r =
      try Some(body(label => ok => if (!ok) failures += s"$name: $label"))
      catch {
        case e: Throwable =>
          failures += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}"
          None
      }
    if (failures.length > before) failed += 1
    r
  }
}
