package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame

import scala.jdk.CollectionConverters._

/** [[Jobs.concurrently]]: branches keep the caller's Spark thread state
  * (job description, local properties) and checkpoint scope, a failing
  * branch lets the others finish and its error reaches the caller, and
  * nested forks complete.
  */
class ConcurrentlySpec extends SparkSuite {

  private val OpKey = "graft.test.op"

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def rddIds(df: DataFrame): Set[Int] =
    df.queryExecution.analyzed.collectLeaves().collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
    }.toSet

  test("every branch's jobs carry the caller's job description and local property") {
    val seen = new ConcurrentLinkedQueue[(String, String)]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).filter(_.getProperty("graft.test.marker") == null).foreach { p =>
          seen.add((p.getProperty("spark.job.description"), p.getProperty(OpKey)))
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    val threads = new ConcurrentLinkedQueue[Thread]()
    val (counts, jobs) = try jobsDuring {
      sc.setLocalProperty(OpKey, "op-7")
      try Jobs.labeled(spark, "caller: build") {
        Jobs.concurrently(spark)(Seq(100L, 200L, 300L).map(n => () => {
          threads.add(Thread.currentThread)
          spark.range(n).count()
        }): _*)
      } finally sc.setLocalProperty(OpKey, null)
    } finally sc.removeSparkListener(listener)
    assert(counts == Seq(100L, 200L, 300L), "results must come back in argument order")
    assert(threads.asScala.toSet.size == 3 && !threads.contains(Thread.currentThread),
      "each branch runs on its own thread")
    assert(jobs >= 3 && seen.size == jobs, s"jobs: $jobs, seen: ${seen.asScala.toSeq}")
    assert(seen.asScala.forall(_ == (("caller: build", "op-7"))),
      s"a branch job lost the caller's properties: ${seen.asScala.toSeq}")
    assert(sc.getLocalProperty(OpKey) == null &&
      sc.getLocalProperty("spark.job.description") == null,
      "the caller's properties must be restored")
  }

  test("a frame owned in a branch belongs to the caller's scope") {
    val before = persisted
    val ids = Reliable.scoped {
      val frames = Jobs.concurrently(spark)(
        () => Reliable.owned(spark.range(10).toDF("x")),
        () => Reliable.owned(spark.range(20).toDF("x")))
      val ids = frames.flatMap(rddIds).toSet
      assert(ids.size == 2 && ids.subsetOf(persisted),
        "branch-owned frames must stay persisted until the scope closes")
      assert(frames.map(_.count()) == Seq(10L, 20L))
      ids
    }
    assert((persisted -- before).isEmpty && (ids & persisted).isEmpty,
      s"the caller's scope left branch-owned frames persisted: ${ids & persisted}")
  }

  test("a failing branch lets the others finish, then the first error is rethrown") {
    val finished = new AtomicInteger(0)
    val threads = new ConcurrentLinkedQueue[Thread]()
    def branch(body: => Long): () => Long = () => {
      threads.add(Thread.currentThread)
      body
    }
    val err = intercept[IllegalStateException] {
      Jobs.concurrently(spark)(
        branch { Thread.sleep(300); val n = spark.range(10).count(); finished.incrementAndGet(); n },
        branch(throw new IllegalStateException("first")),
        branch(throw new IllegalArgumentException("second")),
        branch { Thread.sleep(300); finished.incrementAndGet().toLong })
    }
    assert(err.getMessage == "first")
    assert(err.getSuppressed.map(_.getMessage).toSeq == Seq("second"))
    assert(finished.get == 2, "the other branches must run to their end")
    // the pool is shut down: each branch thread exits once its last
    // instructions after the branch have run (an unshut pool's threads
    // would wait for more tasks forever)
    assert(threads.size == 4 && threads.asScala.forall { t => t.join(5000); !t.isAlive },
      "no branch thread may outlive the call")
  }

  test("nested forks (4 branches of 3, as the q206 gate base builds) complete") {
    val out = Jobs.concurrently(spark)((1 to 4).map(i => () =>
      Jobs.concurrently(spark)((1 to 3).map(j => () =>
        spark.range(10L * i + j).count()): _*).sum): _*)
    assert(out == (1 to 4).map(i => (1 to 3).map(j => 10L * i + j).sum))
  }
}
