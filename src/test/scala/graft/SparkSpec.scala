package graft

import java.util.Properties
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per suite (guide: one SparkSession per suite). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  /** `body`'s value and every Spark job it started, in start order. */
  def jobsOf[A](body: => A): (A, Seq[SparkSpec.Job]) = {
    val sc = spark.sparkContext
    val started = new ConcurrentLinkedQueue[(SparkListenerJobStart, AtomicLong)]()
    val tasksOfStage = new ConcurrentHashMap[Int, AtomicLong]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val tasks = new AtomicLong()
        e.stageIds.foreach(tasksOfStage.put(_, tasks))
        started.add(e -> tasks)
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(tasksOfStage.get(e.stageId)).foreach(_.incrementAndGet())
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    val value = try {
      val v = body
      ListenerBusDrain(sc)
      v
    } finally sc.removeSparkListener(listener)
    (value, started.asScala.toSeq.map { case (e, tasks) =>
      // the result stage, the highest id, is named after the action's call site
      SparkSpec.Job(e.jobId, e.stageInfos.maxByOption(_.stageId).fold("no stage")(_.name),
        e.properties, tasks.get)
    })
  }
}

object SparkSpec {
  /** The job shape `graft.Bench` and erbench measure, at four cores. */
  lazy val session: SparkSession = graft.core.Sessions.jobShape("4")

  /** A job as a listener saw it: its local properties and its ended tasks. */
  final case class Job(id: Int, name: String, properties: Properties, tasks: Long)
}
