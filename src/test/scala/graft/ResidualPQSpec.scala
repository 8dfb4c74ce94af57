package graft

import graft.functions.{DotProduct, VecSub}
import graft.ops.{ResidualPQ, Retrieval}
import org.apache.spark.sql.functions._

/** The point of residual encoding (q144, round 6): residuals against
  * the trained coarse centroids concentrate near the origin with less
  * variance than raw vectors, so the same 4 bytes of PQ code carry more
  * precision. This suite pins that quantitatively against q108's
  * raw-vector codes on the same corpus, plus the search-quality floor
  * and the codegen'd residual kernel's correctness.
  */
class ResidualPQSpec extends SparkSuite {
  import spark.implicits._

  test("graft_vec_sub equals the interpreted zip_with form") {
    val df = Seq((Seq(1.0, 2.5, -3.0), Seq(0.5, 2.5, 4.0)))
      .toDF("a", "b")
    val r = df.select(
      VecSub.vecSub(col("a"), col("b")).as("fast"),
      expr("zip_with(a, b, (x, y) -> x - y)").as("ref")).head()
    assert(r.getSeq[Double](0) == r.getSeq[Double](1))
    assert(r.getSeq[Double](0) == Seq(0.5, 0.0, -7.0))
  }

  test("residual codes quantize with materially less error than raw-vector codes") {
    // raw-vector PQ error: q108's per-vector err column (micro-units / 1e6)
    val rawErr = Retrieval.pqEncode.run(spark, sf0001)
      .agg(sum($"err")).head().getDouble(0)
    // residual PQ error: the shared code table's per-block err_micro
    val resErr = ResidualPQ.resCodes(spark, sf0001)
      .agg(sum($"err_micro")).head().getLong(0) / 1e6
    info(f"total quantization error — raw codes: $rawErr%.3f, residual codes: $resErr%.3f")
    // measured ~10% on the ISOTROPIC testdata (coarse centroids explain
    // little variance there, so residuals stay large); the structured-
    // corpus test below shows the regime the technique exists for
    assert(resErr < 0.95 * rawErr,
      f"residual encoding failed to reduce quantization error: $resErr%.3f vs $rawErr%.3f")
  }

  test("more clusters than codewords: residual encoding collapses the error") {
    // The regime IVF-PQ exists for: 32 cluster centers but only k=8 PQ
    // codewords per block. Raw codes cannot cover 32 centers; residual
    // codes only need to cover the within-cluster noise. Interleaved
    // ordering (cluster = i % 32) makes the first-32 coarse seeds one
    // per cluster — this test isolates the residual effect, QuantizerSpec
    // covers bad seeding.
    val K = 32; val Per = 12; val Dim = 64
    val rnd = new scala.util.Random(19)
    val centers = Array.fill(K, Dim)(rnd.nextGaussian())
    val corpus = (0 until K * Per).map { i =>
      val c = centers(i % K)
      (i.toLong, c.toIndexedSeq.map(x => x + 0.1 * rnd.nextGaussian()))
    }.toDF("vec_id", "v")
    val cent = ops.Quantizer.trainCentroids(corpus, K, ops.Quantizer.Iters)
    val eVv = corpus.withColumn("vv", DotProduct.dot(col("v"), col("v")))
    val assigned = eVv
      .crossJoin(broadcast(cent.withColumn("cc", DotProduct.dot(col("cv"), col("cv")))))
      .select($"vec_id", $"v",
        struct(round($"vv" - lit(2) * DotProduct.dot(col("v"), col("cv")) + $"cc", 6).as("dist"),
          $"cid").as("dc"))
      .groupBy($"vec_id").agg(min($"dc").as("m"), first($"v").as("v"))
      .select($"vec_id", $"m.cid".as("cid"), $"v")
    val residuals = assigned.join(broadcast(cent), Seq("cid"))
      .select($"vec_id", VecSub.vecSub(col("v"), col("cv")).as("v"))
    def codeErr(e: org.apache.spark.sql.DataFrame): Double = {
      val sub = ops.Quantizer.subBlocks(e)
      val cb = ops.Quantizer.trainPqBlocks(sub, 8, ops.Quantizer.Iters)
      sub.join(broadcast(cb), Seq("b"))
        .select($"vec_id", $"b",
          (DotProduct.dot(col("sv"), col("sv")) - lit(2) * DotProduct.dot(col("sv"), col("cv")) +
            DotProduct.dot(col("cv"), col("cv"))).as("d"))
        .groupBy($"vec_id", $"b").agg(min($"d").as("md"))
        .agg(sum($"md")).head().getDouble(0)
    }
    val rawErr = codeErr(corpus)
    val resErr = codeErr(residuals)
    info(f"structured corpus — raw-code error: $rawErr%.2f, residual-code error: $resErr%.2f (${rawErr / resErr}%.1fx)")
    assert(resErr < 0.3 * rawErr,
      f"residuals failed to collapse the error: $resErr%.2f vs $rawErr%.2f")
  }

  test("q144 search: probe-confined candidates, recall not below raw-code ADC") {
    val res = ResidualPQ.ivfPqResidual.run(spark, sf0001)
      .select($"qid", $"cand").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val e = Tables.embeddings(spark, sf0001)
      .select($"vec_id", graft.functions.VectorFunctions.asDouble($"embedding").as("v"))
    // exact L2 top-3, self excluded (the query's own protocol)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"qid").orderBy($"dist", $"cand")
    val exact = e.filter($"vec_id" < 5).select($"vec_id".as("qid"), $"v".as("qv"))
      .crossJoin(e).filter($"qid" =!= $"vec_id")
      .select($"qid", $"vec_id".as("cand"),
        (DotProduct.dot(col("qv"), col("qv")) - lit(2) * DotProduct.dot(col("qv"), col("v")) +
          DotProduct.dot(col("v"), col("v"))).as("dist"))
      .withColumn("rnk", row_number().over(w)).filter($"rnk" <= 3)
      .select($"qid", $"cand").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    // raw-code ADC results (q140) on the same probes/codes budget
    val raw = Retrieval.ivfAdcSearch.run(spark, sf0001)
      .select($"qid", $"cand").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    def recall(m: Map[Long, Set[Long]]): Double = {
      val rs = exact.map { case (q, ex) => m.getOrElse(q, Set.empty).intersect(ex).size / 3.0 }
      rs.sum / rs.size
    }
    val rRes = recall(res)
    val rRaw = recall(raw)
    info(f"recall@3 — residual codes: $rRes%.3f, raw codes: $rRaw%.3f")
    assert(rRes >= rRaw,
      f"residual codes ranked worse than raw codes: $rRes%.3f vs $rRaw%.3f")
    assert(rRes >= 0.3, s"residual ADC degenerate: $rRes")
  }
}
