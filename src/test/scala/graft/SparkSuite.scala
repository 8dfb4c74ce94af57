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

  /** Run `f` and count the Spark jobs it starts. The listener bus is
    * FIFO: a marker job's start, once seen, means every earlier job
    * start has been delivered too, so a marker job before and after `f`
    * brackets exactly its jobs.
    */
  def jobsDuring[A](f: => A): (A, Int) = {
    val marker = "graft.test.marker"
    val seen = new java.util.concurrent.Semaphore(0)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(js.properties).exists(_.getProperty(marker) != null)) seen.release()
        else jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    def drain(): Unit = {
      sc.setLocalProperty(marker, "1")
      try sc.parallelize(Seq(0), 1).count() finally sc.setLocalProperty(marker, null)
      seen.acquire()
    }
    sc.addSparkListener(listener)
    try {
      drain(); jobs.set(0)
      val out = f
      drain()
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}
