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

  /** `body`'s result and the number of RDDs it left persisted: those whose
    * id is above the highest persisted id before the call. Comparing
    * persisted-RDD counts instead can hide a leak, since the
    * ContextCleaner may release an unrelated older RDD in between.
    */
  def persistedBy[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val high = sc.getPersistentRDDs.keys.maxOption.getOrElse(-1)
    val out = body
    (out, sc.getPersistentRDDs.keys.count(_ > high))
  }
}
