package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites — one JVM-wide SparkSession from the
  * mains' factory, at a fixed 4 cores so results and plans do not
  * follow the host's core count. */
object SparkSpec {
  lazy val spark: SparkSession = Session(4)
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  val sf: String = "/root/testdata/sf0.001"
}
