package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared test harness: one SparkSession per JVM (suites reuse it via
  * getOrCreate), built by the same factory as Verify/Bench.
  */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession =
    Tune.session("spark.sql.warehouse.dir" -> "/tmp/graft_test_warehouse")

  val sf0001 = "/root/testdata/sf0.001"
}
