package erbench

import org.apache.spark.HashPartitioner
import org.apache.spark.sql.SparkSession

import graft.functions.GraftKernels.mix64

/** Self-test of the listener's skew reading: a job with a planted hot
  * block (half of all rows under one key, so one task holds ~9x the rows
  * of the others) must read high skew, and the same job over uniformly
  * spread keys must read about 1.
  */
object SelfTest {

  final case class Reading(planted: Double, uniform: Double)

  private val Rows = 16000
  private val Partitions = 8
  private val SpinPerRow = 50000

  private def job(spark: SparkSession, key: Int => Int): Unit =
    spark.sparkContext.parallelize(0 until Rows, Partitions)
      .map(i => (key(i), i))
      .partitionBy(new HashPartitioner(Partitions))
      .mapPartitions { it =>
        var acc = 0L
        it.foreach { case (_, v) =>
          var j = 0
          while (j < SpinPerRow) { acc = mix64(acc + v + j); j += 1 }
        }
        Iterator(acc)
      }
      .count()

  def measure(spark: SparkSession, listener: TaskMetricsListener): Reading = {
    val sc = spark.sparkContext
    Trace.waitIdle(sc)
    listener.reset()
    // uniform first: it also warms the JIT for the planted job
    Trace.span(sc, "selftest.uniform")(job(spark, i => i % Partitions))
    Trace.span(sc, "selftest.planted")(job(spark, i => if (i % 2 == 0) 0 else (i / 2) % Partitions))
    Trace.waitIdle(sc)
    val s = listener.snapshot()
    listener.reset()
    Reading(s("selftest.planted").skew, s("selftest.uniform").skew)
  }

  def check(r: Reading, c: String => Boolean => Unit): Unit = {
    c(s"planted hot block reads skew >= 3 (got ${r.planted})")(r.planted >= 3.0)
    c(s"uniform job reads skew <= 1.5 (got ${r.uniform})")(r.uniform <= 1.5)
  }
}
