package erbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import Main.{Args, Metric, Outcome, median, secondsSince}

/** The catalog workload: every `SparkEntry.queries` entry over a TESTDATA
  * table directory (`--sf-dir`), one pass at a time through the `noop`
  * sink graft.Bench uses. The seed only permutes query order. After the
  * timed passes, each query's row count is compared with the count
  * recorded for that directory in `--rows` (keyed by the directory's
  * base name, e.g. `sf0.1`); a query with no recorded count fails.
  */
object CatalogWorkload {

  val Families: Seq[String] = Seq("er", "dedup", "ann", "text", "mm", "stream", "q")

  def family(query: String): String =
    Families.find(f => query.startsWith(f + "_")).getOrElse("q")

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** `{"sf0.1": {"query": rows, ...}, ...}` — the flat two-level layout
    * this file is written in.
    */
  private def recordedRows(path: java.nio.file.Path, dir: String): Map[String, Long] = {
    if (!Files.exists(path)) return Map.empty
    val s = new String(Files.readAllBytes(path), StandardCharsets.UTF_8)
    val block = ("\"" + java.util.regex.Pattern.quote(dir) + "\"\\s*:\\s*\\{([^}]*)\\}").r
    block.findFirstMatchIn(s).map { m =>
      "\"([^\"]+)\"\\s*:\\s*(\\d+)".r.findAllMatchIn(m.group(1))
        .map(x => x.group(1) -> x.group(2).toLong).toMap
    }.getOrElse(Map.empty)
  }

  def run(spark: SparkSession, a: Args, sessionS: Double): Outcome = {
    val dir = a.sfDir.getOrElse(
      throw new IllegalArgumentException("the catalog workload needs --sf-dir <TESTDATA tables>"))
    val sc = spark.sparkContext
    val queries = graft.SparkEntry.queries
    val order = new scala.util.Random(a.seed).shuffle(queries.keys.toSeq.sorted)
    val checks = new Checks
    val listener = if (a.trace) Some(new TaskMetricsListener) else None

    def pass(perQuery: mutable.Map[String, Double]): Double = {
      var total = 0.0
      order.foreach { name =>
        checks.op(name) { _ =>
          val t0 = System.nanoTime()
          Trace.span(sc, s"catalog.${family(name)}")(noop(queries(name)(spark, dir)))
          val s = secondsSince(t0)
          perQuery(name) = perQuery.getOrElse(name, 0.0) + s
          total += s
        }
      }
      total
    }

    // warm-up: one untimed full pass (JIT, codegen, page cache)
    val tw = System.nanoTime()
    pass(mutable.Map.empty)
    val warmS = secondsSince(tw)
    val warmAttempted = checks.attempted
    val warmFailed = checks.failed

    listener.foreach(sc.addSparkListener)
    val perQuery = mutable.Map.empty[String, Double]
    val passes = mutable.ArrayBuffer.empty[Double]
    while (passes.sum < a.seconds) passes += pass(perQuery)
    listener.foreach(_ => Trace.waitIdle(sc))
    val stats = listener.map(_.snapshot()).getOrElse(Map.empty)
    listener.foreach(sc.removeSparkListener)

    // outside the timed region: row counts against the recorded ones
    val expected = a.rows.map(recordedRows(_, Paths.get(dir).getFileName.toString))
      .getOrElse(Map.empty)
    val counts = order.sorted.map { name =>
      val n = checks.op(s"$name rows") { c =>
        val n = queries(name)(spark, dir).count()
        c(s"row count ${expected.getOrElse(name, "not recorded")} (got $n)")(expected.get(name).contains(n))
        n
      }
      name -> n.getOrElse(-1L)
    }

    val wall = median(passes.toSeq)
    val metrics = Seq(
      Metric("wall_s", wall, "s"),
      Metric("queries_per_s", order.length / wall, "1/s"),
      Metric("setup_s", sessionS + warmS, "s"),
      Metric("peak_rss_mb", Main.peakRssMb(), "MB")) ++
      (if (a.trace) Families.flatMap { f =>
        val s = stats.getOrElse(s"catalog.$f",
          TaskMetricsListener.Stats(0, 0, 0.0, 1.0, 0, 0, 0, 0, 0))
        val mb = 1024.0 * 1024.0
        Seq(
          Metric(s"catalog.$f.s", order.filter(family(_) == f).map(perQuery).sum / passes.length, "s"),
          Metric(s"catalog.$f.shuffle_write_mb", s.shuffleWriteBytes / mb / passes.length, "MB"),
          Metric(s"catalog.$f.spill_mb", s.spillBytes / mb / passes.length, "MB"),
          Metric(s"catalog.$f.skew", s.skew, "ratio"))
      } else Nil)
    Outcome(checks.attempted - warmAttempted, checks.failed - warmFailed, metrics,
      Seq("sf_dir" -> Paths.get(dir).getFileName.toString, "queries" -> order.length,
        "passes" -> passes.length, "pass_s_samples" -> passes.toSeq,
        "session_s" -> sessionS, "warm_up_s" -> warmS, "warm_up_failed" -> warmFailed,
        "failures" -> checks.failures.toSeq),
      Seq("query_s" -> perQuery.toMap.map { case (k, v) => k -> v / passes.length },
        "row_counts" -> counts.toMap))
  }
}
