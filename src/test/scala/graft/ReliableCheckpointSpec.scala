package graft

import graft.ops.DedupClusters

/** The `spark.graft.checkpointDir` resilience escape hatch (round-5
  * verdict item 3): iterative operators truncate lineage with
  * executor-local blocks by default, but on a real cluster a lost
  * executor cannot recompute a localCheckpoint — setting the conf
  * switches them to RELIABLE `checkpoint()`s. Results must be identical
  * in both modes, and the reliable mode must actually put a
  * ReliableCheckpointRDD in the lineage.
  */
class ReliableCheckpointSpec extends SparkSuite {
  import spark.implicits._

  // two chains + one star + a self-contained triangle: multi-batch
  // propagation with distinct component minima
  private def edges = Seq(
    (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
    (10L, 11L), (11L, 12L),
    (20L, 21L), (20L, 22L), (20L, 23L),
    (30L, 31L), (31L, 32L), (30L, 32L)
  ).toDF("src", "dst")

  test("connectedComponents: identical labels under reliable checkpointing") {
    val base = DedupClusters.connectedComponents(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt")
    spark.conf.set(Reliable.ConfKey, dir.toString)
    try {
      val rel = DedupClusters.connectedComponents(edges)
      val lineage = rel.rdd.toDebugString
      assert(lineage.contains("ReliableCheckpointRDD"),
        s"no reliable checkpoint in lineage:\n$lineage")
      val got = rel.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      assert(got.sameElements(base),
        s"labels diverged: ${got.toSeq} vs ${base.toSeq}")
      // checkpoint files actually landed in the configured directory
      val wrote = java.nio.file.Files.walk(dir).count() > 1
      assert(wrote, s"no checkpoint files under $dir")
    } finally spark.conf.unset(Reliable.ConfKey)
  }

  test("GlobalOrder: identical ranks under reliable checkpointing") {
    import org.apache.spark.sql.functions.col
    val df = (1 to 5000).map(i => ((i * 2654435761L) % 100000L, i.toLong))
      .toDF("k", "id")
    def ranks() = ops.GlobalOrder.rankAndRunningSum(df,
        Seq(col("k"), col("id")), col("id"), "rnk", "cum", parts = 8)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).sortBy(_._1)
    val base = ranks()
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-go")
    spark.conf.set(Reliable.ConfKey, dir.toString)
    try {
      val rel = ops.GlobalOrder.rankAndRunningSum(df,
        Seq(col("k"), col("id")), col("id"), "rnk", "cum", parts = 8)
      val lineage = rel.rdd.toDebugString
      assert(lineage.contains("ReliableCheckpointRDD"),
        s"no reliable checkpoint under GlobalOrder's ranged layout:\n$lineage")
      val got = rel.collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).sortBy(_._1)
      assert(got.sameElements(base), "ranks diverged between checkpoint modes")
    } finally spark.conf.unset(Reliable.ConfKey)
  }

  test("default mode unchanged: executor-local blocks, no reliable RDD") {
    val lineage = DedupClusters.connectedComponents(edges).rdd.toDebugString
    assert(lineage.contains("LocalCheckpointRDD") ||
      lineage.contains("CachedPartitions"),
      s"expected executor-local checkpoint lineage:\n$lineage")
    assert(!lineage.contains("ReliableCheckpointRDD"), lineage)
  }

  test("debugReleases: a stale read of released blocks raises the NAMED error with the release site") {
    // the round-17 misuse guard: release()'s contract is caller-owned
    // ("any lazy frame still reading the released blocks fails on its
    // next action"), and without the conf that failure is an opaque
    // block-not-found deep in a job — under the conf it names the rdd
    // and the graft call site that released it.
    spark.conf.set(Reliable.DebugKey, "true")
    try {
      val base = (1 to 1000).map(_.toLong).toDF("id").localCheckpoint(true)
      val lazyReader = base.selectExpr("sum(id) AS s") // still reads base's blocks
      Reliable.release(base) // the misuse: released under a live lazy consumer
      val e = intercept[Reliable.ReleasedBlockReadException] {
        Reliable.withDiagnosis { lazyReader.collect() }
      }
      assert(e.getMessage.contains("released at"), e.getMessage)
      assert(e.getMessage.contains("ReliableCheckpointSpec"),
        s"diagnosis does not name the release site: ${e.getMessage}")
      assert(e.getCause != null, "original failure must be preserved as the cause")
    } finally spark.conf.unset(Reliable.DebugKey)
  }

  test("debugReleases off (default): release records nothing, withDiagnosis passes failures through") {
    val base = (1 to 1000).map(_.toLong).toDF("id").localCheckpoint(true)
    val lazyReader = base.selectExpr("sum(id) AS s")
    Reliable.release(base)
    val e = intercept[Throwable] {
      Reliable.withDiagnosis { lazyReader.collect() }
    }
    assert(!e.isInstanceOf[Reliable.ReleasedBlockReadException],
      "default mode must not record or rename failures")
    assert(Reliable.diagnose(e).isEmpty)
  }

  // ------------------------------------------------ Reliable.scoped / owned

  private def frame(n: Int) = (1 to n).map(_.toLong).toDF("id")
  private def rddIds(df: org.apache.spark.sql.DataFrame): Set[Int] =
    df.queryExecution.analyzed.collectLeaves().collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
    }.toSet
  private def persisted(df: org.apache.spark.sql.DataFrame): Boolean =
    rddIds(df).subsetOf(spark.sparkContext.getPersistentRDDs.keySet)

  test("scoped releases its owned frames on normal return and on exception") {
    var kept: org.apache.spark.sql.DataFrame = null
    val sum = Reliable.scoped {
      kept = Reliable.owned(frame(100))
      assert(persisted(kept), "owned frame not persisted inside its scope")
      kept.agg(org.apache.spark.sql.functions.sum("id")).collect()(0).getLong(0)
    }
    assert(sum == 5050L)
    assert(!persisted(kept), "scope left its frame persisted after returning")
    var failed: org.apache.spark.sql.DataFrame = null
    intercept[IllegalStateException] {
      Reliable.scoped {
        failed = Reliable.owned(frame(10))
        throw new IllegalStateException("boom")
      }
    }
    assert(!persisted(failed), "scope left its frame persisted after throwing")
  }

  test("a nested scope releases only its own frames") {
    Reliable.scoped {
      val outer = Reliable.owned(frame(20))
      var inner: org.apache.spark.sql.DataFrame = null
      Reliable.scoped { inner = Reliable.owned(frame(30)) }
      assert(!persisted(inner), "inner scope kept its frame")
      assert(persisted(outer), "inner scope released the outer scope's frame")
      assert(outer.count() == 20L)
    }
  }

  test("ownedObserving observes in the checkpoint's own job, and its checkpoint belongs to the scope") {
    import org.apache.spark.sql.functions.{col, collect_set, max}
    val df = spark.range(0, 1000, 1, 4).select((col("id") % 7).as("b"))
    var ck: org.apache.spark.sql.DataFrame = null
    val (row, jobs) = jobsDuring(Reliable.scoped {
      val (c, r) = Reliable.ownedObserving(df, collect_set(col("b")), max(col("b")))
      ck = c
      assert(persisted(c))
      r
    })
    assert(row.getSeq[Long](0).sorted == (0L until 7L) && row.getLong(1) == 6L)
    assert(jobs == 1, "the observation must run in the checkpoint's own job")
    assert(!persisted(ck), "the scope kept the observed checkpoint")
    val empty = Reliable.scoped(Reliable.ownedObserving(df.filter(col("b") < 0),
      collect_set(col("b")), max(col("b")))._2)
    assert(empty.getSeq[Long](0).isEmpty && empty.isNullAt(1))
  }

  test("owned with no scope open persists for the session, like localCheckpoint") {
    val df = Reliable.owned(frame(40))
    assert(persisted(df))
    assert(df.count() == 40L)
    Reliable.release(df)
  }

  test("an owned checkpoint names its caller as its creation site") {
    val sc = spark.sparkContext
    Reliable.scoped {
      val df = Reliable.owned(frame(60))
      def sites(f: org.apache.spark.sql.DataFrame) = f.queryExecution.analyzed.collectLeaves().collect {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.toString
      }
      assert(sites(df).nonEmpty && sites(df).forall(_.contains("at localCheckpoint at ReliableCheckpointSpec.scala:")),
        s"owned RDD does not name the calling file: ${sites(df)}")
      // a pass-through helper that owns for its caller names that caller
      val spread = Spread.materialized(frame(70))
      assert(sites(spread).nonEmpty && sites(spread).forall(_.contains("at localCheckpoint at ReliableCheckpointSpec.scala:")),
        s"Spread.materialized's checkpoint does not name its caller: ${sites(spread)}")
    }
    assert(sc.getLocalProperty("callSite.short") == null &&
      sc.getLocalProperty("callSite.long") == null,
      "owned must restore the previous call site")
  }

  test("a scope on one thread does not release frames owned on another") {
    var other: org.apache.spark.sql.DataFrame = null
    Reliable.scoped {
      val t = new Thread(() => { other = Reliable.owned(frame(50)) })
      t.start(); t.join()
    }
    assert(other != null && persisted(other),
      "a scope released a frame owned on a different thread")
    Reliable.release(other)
  }

  test("debugReleases: a lazy frame read after its scope closed raises the named error") {
    spark.conf.set(Reliable.DebugKey, "true")
    try {
      val lazyReader = Reliable.scoped {
        Reliable.owned(frame(1000)).selectExpr("sum(id) AS s") // escapes the scope
      }
      val e = intercept[Reliable.ReleasedBlockReadException] {
        Reliable.withDiagnosis { lazyReader.collect() }
      }
      assert(e.getMessage.contains("released at"), e.getMessage)
      assert(e.getMessage.contains("ReliableCheckpointSpec"),
        s"diagnosis does not name the scope's call site: ${e.getMessage}")
    } finally spark.conf.unset(Reliable.DebugKey)
  }
}
