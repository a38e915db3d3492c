package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites: the [[Session.local]] factory
  * the entry points use, built once per test JVM.
  */
object SparkSpec {
  lazy val spark: SparkSession = Session.local()

  val sf0001 = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  def sf0001: String = SparkSpec.sf0001
}
