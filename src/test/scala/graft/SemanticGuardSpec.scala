package graft

import graft.ops.{AnnIndex, Dedup, LshGuard}

/** Hot-cluster guard evidence for the SEMANTIC sweep family (round-14
  * verdict item 1): `dominatedBy` — the kernel shared by q199/q200/q202
  * and both production semdedup entry points — joins cluster members
  * pairwise, and on a degenerate corpus (thousands of identical
  * vectors, which is exactly the data semantic dedup exists for) ONE
  * cluster holds everything and the confined join goes quadratic
  * regardless of k. The guard rank-caps cluster membership per c_id
  * (the LshGuard recipe), observes the drops, and leaves results
  * untouched when clusters are small (the oracle-protecting property).
  *
  * Pair volume is read DIRECTLY from the output: on an all-identical
  * cluster every surviving pair passes the τ filter, so
  * Σ n_dominating = the number of pairs the join actually produced.
  */
class SemanticGuardSpec extends SparkSuite {
  import spark.implicits._

  private val Dim = 8

  /** `n` copies of one direction as a pre-assigned single cluster —
    * the mode-collapsed-embeddings worst case.
    */
  private def identicalCluster(n: Int) = {
    val u = (1 to Dim).map(_ * 0.25)
    (0 until n).map(i => (i.toLong, 0, u)).toDF("vec_id", "c_id", "v")
  }

  test("degenerate cluster: pair volume bounded by cap(cap-1)/2, dedup inside the cap intact") {
    val rows = Dedup.dominatedBy(identicalCluster(3000), 0.4, cap = 64)
      .orderBy($"vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(4)))
    // only the 64 retained members sweep: 63 dominated rows, and inside
    // the cap exact-duplicate detection is fully intact — vec r is
    // dominated by all r lower-id retained copies, minimum 0
    assert(rows.map(_._1).toSeq == (1L until 64L), "capped sweep must flag ids 1..63")
    rows.foreach { case (vec, nDom, dom) =>
      assert(nDom == vec, s"vec $vec: expected $vec dominators inside the cap, got $nDom")
      assert(dom == 0L, s"vec $vec: dominator must be the rank-1 member")
    }
    // Σ n_dominating IS the produced pair count: C(64,2), not C(3000,2)
    assert(rows.map(_._2).sum == 64L * 63 / 2,
      "pair volume not bounded by the membership cap")
    // the binding cap is observed, never silent: 3000-64 drops, bucket 3000
    import scala.jdk.CollectionConverters._
    def observed: Option[(Long, Long)] =
      LshGuard.lastObserved.asScala.collectFirst {
        case (k, v) if k.startsWith("graft.lsh.drops.semsweep") && v == ((2936L, 3000L)) => v
      }
    val deadline = System.currentTimeMillis() + 15000
    var seen = Option.empty[(Long, Long)]
    while (seen.isEmpty && System.currentTimeMillis() < deadline) {
      seen = observed
      if (seen.isEmpty) Thread.sleep(100)
    }
    assert(seen.contains((2936L, 3000L)), s"expected observed drops (2936, 3000), got $seen")
  }

  test("without the cap the same fixture goes quadratic (fixture honesty)") {
    val rows = Dedup.dominatedBy(identicalCluster(400), 0.4, cap = Int.MaxValue)
      .collect()
    assert(rows.map(_.getLong(2)).sum == 400L * 399 / 2,
      "uncapped degenerate cluster must produce the full quadratic pair set")
  }

  test("default cap is non-binding on real testdata (oracle-protecting)") {
    val e = Tables.embeddings(spark, sf0001).select($"vec_id",
      graft.functions.VectorFunctions.asDouble($"embedding").as("v"))
    val assigned = Dedup.assignCosine(e,
      ops.Quantizer.ivfCentroids(spark, sf0001)).localCheckpoint(true)
    val capped = Dedup.dominatedBy(assigned, 0.4)
    val uncapped = Dedup.dominatedBy(assigned, 0.4, cap = Int.MaxValue)
    assert(capped.exceptAll(uncapped).isEmpty && uncapped.exceptAll(capped).isEmpty,
      "default cap changed results on the test corpus")
  }

  test("semanticDedupBatch caps the member side of a hot corpus cluster") {
    val rnd = new scala.util.Random(17)
    val u = Array.fill(64)(rnd.nextGaussian())
    // 200 identical corpus vectors (the hot cluster) + 50 spread ones
    val corpus = ((0 until 200).map(i => (i.toLong, u.toSeq)) ++
      (200 until 250).map(i => (i.toLong, Array.fill(64)(rnd.nextGaussian()).toSeq)))
      .toDF("vec_id", "v").localCheckpoint()
    val dir = TempDirs.create("graft-semguard")
    AnnIndex.writeVectors(spark, corpus, dir)
    // intake batch: 5 more copies of u — semantic dups of the hot cluster
    val batch = (1000 until 1005).map(i => (i.toLong, u.toSeq)).toDF("vec_id", "v")
    val out = Dedup.semanticDedupBatch(spark, dir, batch, corpus,
      tau = 0.4, cap = 16).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
    // every batch copy is caught (exact-dup detection inside the cap),
    // and no batch vector sees more than `cap` dominating members
    assert(out.map(_._1).toSet == (1000L until 1005L).toSet,
      s"every identical batch vector must be flagged, got ${out.map(_._1).toSeq}")
    out.foreach { case (bv, nDom, maxSim) =>
      assert(nDom <= 16, s"batch vec $bv saw $nDom members — member cap not applied")
      assert(maxSim >= 0.999999, s"batch vec $bv: identical dominator must score ~1")
    }
    // the 200-member hot cluster was capped, and the drop was observed
    import scala.jdk.CollectionConverters._
    def observed: Option[(Long, Long)] =
      LshGuard.lastObserved.asScala.collectFirst {
        case (k, v) if k.startsWith("graft.lsh.drops.semintake") && v._1 > 0 => v
      }
    val deadline = System.currentTimeMillis() + 15000
    var seen = Option.empty[(Long, Long)]
    while (seen.isEmpty && System.currentTimeMillis() < deadline) {
      seen = observed
      if (seen.isEmpty) Thread.sleep(100)
    }
    assert(seen.exists { case (dropped, maxBucket) =>
      dropped >= 150L && maxBucket >= 180L },
      s"expected a large observed member drop on the hot cluster, got $seen")
  }
}
