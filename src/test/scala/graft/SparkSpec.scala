package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per suite (guide: one SparkSession per suite). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
}

object SparkSpec {
  /** The job shape `graft.Bench` and erbench measure, at four cores. */
  lazy val session: SparkSession = graft.core.Sessions.jobShape("4")
}
