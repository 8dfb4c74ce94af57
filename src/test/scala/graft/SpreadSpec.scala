package graft

import org.apache.spark.sql.functions._

/** Round 19: the input-parallelism repair must spread a skinny narrow
  * input, leave parallel and exchange-bearing inputs untouched, and
  * never change results.
  */
class SpreadSpec extends SparkSuite {
  import spark.implicits._

  test("lazyAuto spreads a 1-partition narrow frame to the cluster width") {
    // coalesce is itself a Repartition node (non-narrow, correctly
    // skipped) — materialize it so the probe sees a 1-partition leaf,
    // the Shared-checkpoint shape the repair targets
    val df = (1 to 100).toDF("x").coalesce(1).localCheckpoint(true)
    assert(df.rdd.getNumPartitions === 1)
    val out = Spread.lazyAuto(df)
    assert(out.rdd.getNumPartitions ===
      spark.sparkContext.defaultParallelism)
    // results identical
    assert(out.agg(sum(col("x"))).collect()(0).getLong(0) === 5050L)
  }

  test("lazyAuto is a no-op on an already-parallel narrow frame") {
    val par = spark.sparkContext.defaultParallelism
    val df = (1 to 100).toDF("x").repartition(par)
    // repartition is an exchange — materialize so the probe sees a leaf
    val ck = df.localCheckpoint(true)
    assert(Spread.lazyAuto(ck) eq ck)
  }

  test("lazyAuto is a no-op (no probe, no plan change) on exchange-bearing plans") {
    val a = (1 to 10).toDF("x")
    val joined = a.join(a.withColumnRenamed("x", "y"), col("x") === col("y"))
    assert(Spread.lazyAuto(joined) eq joined)
    val agg = a.groupBy(col("x")).agg(count(lit(1)).as("n"))
    assert(Spread.lazyAuto(agg) eq agg)
  }

  test("lazyAuto spreads through project/filter over a single-file scan") {
    val dir = TempDirs.create("graft_spread") + "/t"
    (1 to 1000).toDF("x").coalesce(1).write.mode("overwrite").parquet(dir)
    val scan = spark.read.parquet(dir).filter(col("x") > 10)
      .select((col("x") * 2).as("y"))
    assert(Spread.lazyAuto(scan).rdd.getNumPartitions ===
      spark.sparkContext.defaultParallelism)
  }

  test("batch and materialized spread and preserve results") {
    val df = (1 to 50).toDF("x").coalesce(1)
    val b = Spread.batch(df)
    assert(b.rdd.getNumPartitions === spark.sparkContext.defaultParallelism)
    val m = Spread.materialized(df)
    assert(m.rdd.getNumPartitions >= spark.sparkContext.defaultParallelism / 2)
    assert(m.agg(sum(col("x"))).collect()(0).getLong(0) === 1275L)
  }

  test("lazyAuto launches no job on a filter by a scalar subquery") {
    val t = (1 to 100).toDF("x").coalesce(1).localCheckpoint(true)
    t.createOrReplaceTempView("spread_subq")
    val df = spark.sql(
      "SELECT x FROM spread_subq WHERE x > (SELECT avg(x) FROM spread_subq)")
    // the listener bus is FIFO: a marker job's start, once seen, means
    // every earlier job start has been delivered too
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
      val out = Spread.lazyAuto(df)
      drain()
      assert(jobs.get === 0, "lazyAuto ran the subquery to probe partitions")
      assert(out eq df)
    } finally sc.removeSparkListener(listener)
    assert(df.count() === 50L)
  }
}
