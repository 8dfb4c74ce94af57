package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import java.nio.file.Files

/** AQE skew rehearsal — the 100×-scale claim checked with EVIDENCE
  * instead of scaladoc: a deliberately skewed corpus (one viral
  * template near-duplicated across sources — the classic hot-key shape
  * for every dedup pipeline) runs the three heaviest corpus analyses
  * (q57 cluster labels, q103 source overlap, q117 dup spans) under
  * raised shuffle partitions with AQE's coalescing and skew-join
  * splitting tuned to the corpus size, and a job-scoped listener
  * asserts no post-shuffle task reads a pathological multiple of its
  * stage's median records. Record counts, not task times: bytes/rows
  * per task are what AQE actually balances, and they are deterministic
  * where wall-clock on a loaded host is not.
  */
class AqeSkewSpec extends SparkSuite {
  import spark.implicits._

  /** sf0.001 documents + 300 near-copies of one hot template spread
    * over 4 sources: every copy shares 39/40 shingles with the others,
    * so LSH banding funnels all of them into the same band buckets.
    */
  private lazy val skewDir: String = {
    val d = Files.createTempDirectory("graft_aqe_skew").toString
    val template = (1 to 40).map(i => s"tok$i").mkString(" ")
    val hot = (0 until 300).map { i =>
      (100000L + i, s"$template variant$i", "en", s"src${i % 4}",
        (template.length + 10).toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    // 16 input splits: AQE's skew splitting divides a reduce partition
    // at MAP-output boundaries, so map-side granularity must exist for
    // the rehearsal to have room to split at all
    Tables.documents(spark, sf0001).unionByName(hot)
      .repartition(16).write.parquet(s"$d/documents.parquet")
    d
  }

  test("hot-template corpus: post-shuffle tasks stay balanced under AQE") {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "64")
    // thresholds scaled to the fixture (defaults are MB-sized): keep
    // coalescing from collapsing to one task, let skew splitting fire
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8192")
    // parallelismFirst coalescing uses minPartitionSize (1MB default),
    // which at fixture scale folds every shuffle to one task — scale it
    // down with the data or the rehearsal audits nothing
    s.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", "4096")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16384")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    // at 100 TB neither join side fits a broadcast — force the
    // sort-merge path so OptimizeSkewedJoin (which only rewrites
    // shuffle joins) is actually on trial here
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
    val group = "aqe-skew-rehearsal"
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val recs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long)]()
    val started = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val ended = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(
            p => group == p.getProperty("spark.jobGroup.id"))) {
          started.add(j.jobId)
          j.stageIds.foreach(id => stages.add(id))
        }
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        if (started.contains(j.jobId)) ended.add(j.jobId)
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (stages.contains(t.stageId) && t.taskMetrics != null)
          recs.add((t.stageId, t.taskMetrics.shuffleReadMetrics.recordsRead))
    }
    s.sparkContext.addSparkListener(listener)
    try {
      s.sparkContext.setJobGroup(group, "AQE skew rehearsal")
      assert(ops.DedupClusters.dedupClusters.run(s, skewDir).count() >= 300,
        "hot template cluster missing")
      assert(ops.Curation.sourceOverlap.run(s, skewDir).count() > 0)
      assert(ops.Dedup.dupSpanFraction.run(s, skewDir).count() > 0)
      s.sparkContext.clearJobGroup()
      // Drain (round-6 advice fix — the old "recs.size stable for 4
      // polls" heuristic could under-collect on a slow bus): the bus is
      // FIFO and SparkListenerJobEnd is posted after every TaskEnd of
      // its job, so started==ended ⇒ those jobs' metrics are complete.
      // Equality alone can still be observed BETWEEN jobs (including
      // the 0==0 prefix before any group event processes), so require
      // non-empty equality that stays stable across several polls — the
      // FIFO condition does the correctness work, the stability window
      // only guards the between-jobs snapshot.
      val deadline = System.currentTimeMillis() + 60000
      var stable = 0
      var snap = (-1, -1)
      while (stable < 4 && System.currentTimeMillis() < deadline) {
        val cur = (started.size, ended.size)
        if (cur == snap && cur._1 > 0 && cur._1 == cur._2) stable += 1
        else { stable = 0; snap = cur }
        Thread.sleep(100)
      }
      assert(snap._1 > 0 && snap._1 == snap._2,
        s"listener bus never drained: ${snap._2}/${snap._1} jobs ended")
    } finally s.sparkContext.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    val byStage = recs.asScala.toSeq.groupBy(_._1).view
      .mapValues(_.map(_._2).sorted).toMap
    // Thresholds DERIVED from the fixture (round-6 advice fix — no
    // magic absolutes): 300 hot docs collide in all 8 bands, so the
    // band join must move at least hotPairs·(a few bands) of candidate
    // rows, and the biggest legitimate single task is the CC edge list
    // (~2·organic+hot pairs, deliberately one partition) — the floor
    // sits at 3·hotPairs, above that and below any quadratic blowup
    // (hot-degree² or corpus×corpus lands millions of records).
    val hotN = 300L
    val hotPairs = hotN * (hotN - 1) / 2 // 44850 candidate pairs
    val floor = 3L * hotPairs
    byStage.foreach { case (stage, rs) =>
      val median = rs(rs.size / 2)
      // a task fails only if BOTH relatively outsized (> 4x its stage's
      // median — the round-4 verdict's bar) AND absolutely large
      assert(rs.max <= math.max(4L * median, floor),
        s"stage $stage skewed: max=${rs.max} median=$median tasks=${rs.size}")
    }
    // ...and the rehearsal's main event must actually have happened:
    // the LSH band join on the hot template (its 8 band keys all carry
    // 300 colliding docs) ran WIDE and balanced — skew splitting broke
    // the hot partitions instead of leaving one straggler task. The
    // band join is identifiable by construction: all 8 bands collide,
    // so it moves ≥ 8·hotPairs candidate rows — while the largest other
    // stage (CC's symmetric edge list, deliberately one partition) moves
    // ~4·hotPairs. 6·hotPairs separates them from first principles.
    val bandJoin = byStage.filter { case (_, rs) =>
      rs.size >= 32 && rs.sum >= 6L * hotPairs }
    assert(bandJoin.nonEmpty,
      s"band join never ran wide: ${byStage.view.mapValues(rs => (rs.size, rs.sum)).toMap}")
    bandJoin.foreach { case (stage, rs) =>
      val median = rs(rs.size / 2)
      info(f"band-join stage $stage: tasks=${rs.size} median=$median max=${rs.max} total=${rs.sum}")
      assert(rs.max <= 4L * median,
        s"hot band partition not split: max=${rs.max} median=$median")
    }
  }
}
