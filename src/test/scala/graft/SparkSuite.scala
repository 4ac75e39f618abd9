package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for test suites — the mains' session shape
  * ([[Session.local]]) at 4 cores and 4 shuffle partitions.
  */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = Session.local(4)

  val sf: String = "/root/testdata/sf0.001"
}
