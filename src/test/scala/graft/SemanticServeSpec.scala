package graft

import graft.ops.{AnnIndex, Dedup}
import java.nio.file.Files

/** The round-13 semantic-dedup serve tier, spec-pinned (round-14 verdict
  * item 2): q203's fixture must keep BOTH intake branches live against a
  * testdata regeneration (the IngestionGateSpec pattern — its gate
  * output was 2 rows at sf0.01 with nothing pinning non-emptiness);
  * `semanticDedupFromIndex`'s Scaladoc promise ("tombstone-filtered, so
  * deleted vectors never dominate anyone") gets the delete-a-dominator
  * test it claimed; and `semanticDedupBatch` gets a persisted-roundtrip
  * check on crafted vectors with KNOWN dominators, including the
  * tombstone path on the intake side.
  */
class SemanticServeSpec extends SparkSuite {
  import spark.implicits._

  private def spread(seed: Int, n: Int): IndexedSeq[(Long, Seq[Double])] = {
    val rnd = new scala.util.Random(seed)
    // 64-dim gaussians: pairwise cosines concentrate near 0 (σ ≈ 1/8),
    // so τ = 0.95 admits ONLY the planted exact copies
    (0 until n).map(i => (i.toLong, IndexedSeq.fill(64)(rnd.nextGaussian())))
  }

  test("q203's fixture keeps both intake branches live at every testdata SF") {
    for (sf <- Seq(sf0001, "/root/testdata/sf0.01")
         if new java.io.File(sf).isDirectory) {
      val batchIds = Tables.embeddings(spark, sf)
        .filter($"vec_id" % 10 === 7)
        .select($"vec_id").collect().map(_.getLong(0)).toSet
      val flagged = Dedup.semanticDedupIntake.run(spark, sf)
        .collect().map(_.getLong(0)).toSet
      assert(flagged.nonEmpty,
        s"$sf: the REJECTED branch no longer fires — the regenerated corpus has " +
          "no batch vector dominated at τ; re-craft the q203 fixture split")
      assert(flagged.subsetOf(batchIds), s"$sf: flagged ids outside the intake batch")
      assert((batchIds -- flagged).nonEmpty,
        s"$sf: the ADMITTED branch no longer fires — every batch vector is dominated")
    }
  }

  test("semanticDedupFromIndex honors tombstones: deleting a dominator re-ranks, then frees, its victim") {
    val base = spread(23, 40)
    val u = base(0)._2
    val vecs = base ++ Seq((50L, u), (51L, u)) // two planted copies of vec 0
    val d = Files.createTempDirectory("graft-semserve-d").toString
    vecs.toDF("vec_id", "embedding").write.parquet(s"$d/embeddings.parquet")
    val ix = Files.createTempDirectory("graft-semserve-ix").toString
    AnnIndex.writeVectors(spark, vecs.toDF("vec_id", "v"), ix)
    def sweep(): List[(Long, Long, Long)] =
      Dedup.semanticDedupFromIndex(spark, d, ix, tau = 0.95)
        .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(4))).toList
    assert(sweep() == List((50L, 1L, 0L), (51L, 2L, 0L)),
      "fresh index: both copies dominated by the original")
    AnnIndex.delete(spark, ix, Seq(0L).toDF("vec_id"))
    assert(sweep() == List((51L, 1L, 50L)),
      "deleting the dominator must re-rank the victim onto the surviving copy")
    AnnIndex.delete(spark, ix, Seq(50L).toDF("vec_id"))
    assert(sweep().isEmpty,
      "deleting every earlier copy must free the victim entirely")
  }

  test("semanticDedupBatch roundtrip: planted dominator caught, novel vector admitted, tombstone honored") {
    val corpus = spread(29, 40)
    val corpusDf = corpus.toDF("vec_id", "v")
    val ix = Files.createTempDirectory("graft-semserve-b").toString
    AnnIndex.writeVectors(spark, corpusDf, ix)
    val novel = spread(31, 1)(0)._2
    val batch = Seq((1000L, corpus(3)._2), (1001L, novel)).toDF("vec_id", "v")
    def gate(): Array[(Long, Long, Double, Long)] =
      Dedup.semanticDedupBatch(spark, ix, batch, corpusDf, tau = 0.95)
        .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(3), r.getLong(4)))
    val out = gate()
    assert(out.length == 1 && out(0)._1 == 1000L,
      s"exactly the planted copy must be rejected, got ${out.toSeq}")
    assert(out(0)._2 == 1L && out(0)._4 == 3L, s"dominator must be corpus vec 3: ${out(0)}")
    assert(out(0)._3 >= 0.999999, s"identical dominator must score ~1: ${out(0)}")
    // tombstoning the dominator admits the copy on the next intake
    AnnIndex.delete(spark, ix, Seq(3L).toDF("vec_id"))
    assert(gate().isEmpty,
      "a tombstoned corpus vector must never dominate an intake batch")
  }
}
