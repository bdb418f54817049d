package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites — one JVM-wide SparkSession, built by
  * the same [[graft.core.GraftSession]] the mains use. */
object SparkSpec {
  lazy val spark: SparkSession = graft.core.GraftSession.local(4)

  val sfDir = "/root/testdata/sf0.001"
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  def sfDir: String = SparkSpec.sfDir
}
