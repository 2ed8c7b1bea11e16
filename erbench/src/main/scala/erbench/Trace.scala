package erbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Per-span task accounting, registered by the benchmark (the engine is
  * not edited). A job belongs to a span in one of two ways:
  *
  *  - explicitly: `Trace.span(sc, name)` sets the local property
  *    `erbench.span` on the driver thread, which Spark copies into every
  *    job and stage that thread submits;
  *  - by call site: jobs outside an explicit span are keyed by the
  *    innermost engine frame (`graft.*`) of their SQL execution's call
  *    site, as `File.method` with no line number, so keys survive edits.
  *
  * Tasks are aggregated by the key of their stage. Job wall intervals are
  * kept per key and merged, so a key's job time never counts overlapping
  * jobs twice.
  */
final class TaskMetricsListener extends SparkListener {
  import TaskMetricsListener._

  private val execSite = new ConcurrentHashMap[Long, String]()
  private val stageKey = new ConcurrentHashMap[Int, String]()
  private val jobKey = new ConcurrentHashMap[Int, (String, Long)]()
  private val aggs = new ConcurrentHashMap[String, Agg]()

  private def agg(key: String): Agg = aggs.computeIfAbsent(key, _ => new Agg)

  private def keyOf(props: java.util.Properties, stageDetails: => String): String = {
    val explicit = Option(props).flatMap(p => Option(p.getProperty(SpanProperty)))
    explicit.getOrElse {
      val exec = Option(props).flatMap(p =>
        Option(p.getProperty("spark.sql.execution.root.id"))
          .orElse(Option(p.getProperty("spark.sql.execution.id"))))
      val site = exec.flatMap(id => Option(execSite.get(id.toLong))).getOrElse(stageDetails)
      siteKey(site)
    }
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart => execSite.put(e.executionId, e.details)
    case _ => ()
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = {
    val last = if (j.stageInfos.isEmpty) "" else j.stageInfos.maxBy(_.stageId).details
    val key = keyOf(j.properties, last)
    jobKey.put(j.jobId, (key, j.time))
    j.stageIds.foreach(id => stageKey.putIfAbsent(id, key))
    agg(key).synchronized(agg(key).jobs += 1)
  }

  override def onJobEnd(j: SparkListenerJobEnd): Unit =
    Option(jobKey.remove(j.jobId)).foreach { case (key, start) =>
      val a = agg(key)
      a.synchronized(a.intervals += ((start, j.time)))
    }

  override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
    stageKey.put(s.stageInfo.stageId, keyOf(s.properties, s.stageInfo.details))

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    val key = Option(stageKey.get(t.stageId)).getOrElse(Unattributed)
    val a = agg(key)
    val m = t.taskMetrics
    a.synchronized {
      a.tasks += 1
      a.taskMs.getOrElseUpdate(t.stageId, mutable.ArrayBuffer.empty[Long]) += t.taskInfo.duration
      if (m != null) {
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        a.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Snapshot of every key seen since the last reset. Call after
    * `waitIdle` so the listener bus has delivered the span's events.
    */
  def snapshot(): Map[String, Stats] =
    aggs.asScala.map { case (k, a) => k -> a.synchronized(a.stats) }.toMap

  def reset(): Unit = {
    aggs.clear(); stageKey.clear(); jobKey.clear()
  }
}

object TaskMetricsListener {
  val SpanProperty = "erbench.span"
  val Unattributed = "unattributed"

  /** What one span did. `skew` is max/median task duration within the
    * span's heaviest stage (by summed task time): mixing the tiny tasks of
    * a coalesced stage with the heavy ones of another would say nothing
    * about either.
    */
  final case class Stats(
      jobs: Int, tasks: Long, jobMs: Double, skew: Double,
      shuffleWriteBytes: Long, shuffleReadBytes: Long, spillBytes: Long,
      gcMs: Long, cpuNs: Long)

  final class Agg {
    var jobs = 0
    var tasks = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleWriteBytes = 0L
    var shuffleReadBytes = 0L
    var spillBytes = 0L
    val taskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
    val intervals = mutable.ArrayBuffer.empty[(Long, Long)]

    def stats: Stats = {
      val heaviest = taskMs.values.toSeq.sortBy(-_.sum).headOption
      val skew = heaviest.map { ms =>
        val sorted = ms.sorted
        val median = math.max(sorted(sorted.length / 2), 1L)
        sorted.last.toDouble / median
      }.getOrElse(1.0)
      Stats(jobs, tasks, mergedMs(intervals.toSeq), skew,
        shuffleWriteBytes, shuffleReadBytes, spillBytes, gcMs, cpuNs)
    }
  }

  /** Total length of a set of possibly overlapping [start, end] intervals. */
  def mergedMs(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total.toDouble
  }

  private val Frame = """(graft\.[\w.$]+)\.([\w$]+)\((\w+)\.scala:\d+\)""".r

  /** `File.method` of the innermost engine frame in a call-site stack,
    * with Scala's synthetic `$anonfun$`/`$1` decorations removed.
    */
  def siteKey(stack: String): String =
    Frame.findFirstMatchIn(Option(stack).getOrElse(""))
      .map { m =>
        val (method, file) = (m.group(2), m.group(3))
        val clean = method.split('$').filter(p => p.nonEmpty && p != "anonfun" &&
          !p.forall(_.isDigit)).headOption.getOrElse(method)
        s"$file.$clean"
      }
      .getOrElse(Unattributed)
}

/** Span helpers over a [[TaskMetricsListener]]. */
object Trace {
  /** Runs `f` with every job it submits tagged as span `name`; returns the
    * result and its wall seconds.
    */
  def span[T](sc: SparkContext, name: String)(f: => T): (T, Double) = {
    val prev = sc.getLocalProperty(TaskMetricsListener.SpanProperty)
    sc.setLocalProperty(TaskMetricsListener.SpanProperty, name)
    val t0 = System.nanoTime()
    try {
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    } finally sc.setLocalProperty(TaskMetricsListener.SpanProperty, prev)
  }

  /** Blocks until the listener bus has delivered every posted event. */
  def waitIdle(sc: SparkContext): Unit =
    org.apache.spark.ListenerBusAccess.waitUntilEmpty(sc)
}
