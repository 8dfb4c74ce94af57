package graft

import graft.functions.DotProduct
import graft.ops.Quantizer
import org.apache.spark.sql.functions._

/** Training-lift evidence for the round-6 trained quantizers.
  *
  * The registered queries (q49/q108/q109/q140) train on the testdata
  * embeddings, which are isotropic unit vectors — there PQ recall is
  * bounded by distance concentration regardless of codebook quality, so
  * Advanced8Spec's bars are ceiling-relative. THIS suite builds a corpus
  * that HAS structure (8 well-separated Gaussian clusters) with
  * deliberately degenerate seeding (the first 8 vectors — the Lloyd
  * seeds — all come from ONE cluster) and shows that:
  *   1. Lloyd training moves the codebook out of the seed cluster:
  *      cluster-retrieval recall through 4-byte ADC codes reaches ~1.0;
  *   2. the untrained seed codebook is measurably worse on the same task;
  *   3. trained sub-centroids reduce total quantization error.
  */
class QuantizerSpec extends SparkSuite {
  import spark.implicits._

  // 8 clusters × 25 points in 64-dim: centers ~ N(0,1)^64 (pairwise
  // distance ~ √128·σ_c), points = center + N(0, 0.15²) noise. Rows are
  // ordered cluster-major, so vec_id < 8 (the trainer's seeds) all fall
  // in cluster 0 — the worst-case seeding for an untrained codebook.
  private val K = 8
  private val Per = 25
  private val Dim = 64
  private lazy val corpus: Array[Array[Double]] = {
    val rnd = new scala.util.Random(7)
    val centers = Array.fill(K, Dim)(rnd.nextGaussian())
    Array.tabulate(K * Per) { i =>
      val c = centers(i / Per)
      Array.tabulate(Dim)(d => c(d) + 0.15 * rnd.nextGaussian())
    }
  }

  /** ADC cluster-retrieval recall@25 for 16 evenly-spaced queries: rank
    * the corpus by summed code-lookup distance, take the top 25, score
    * the overlap with the query's true cluster. Driver-side math over the
    * collected codebook — the corpus is 200×64.
    */
  private def clusterRecall(cb: Map[(Int, Int), Array[Double]]): Double = {
    val bs = 16
    def blockDist(x: Array[Double], b: Int, cid: Int): Double = {
      val c = cb((b, cid))
      var s = 0.0; var d = 0
      while (d < bs) { val t = x(b * bs + d) - c(d); s += t * t; d += 1 }
      s
    }
    val cids = cb.keys.groupBy(_._1).view.mapValues(_.map(_._2).toSeq.sorted).toMap
    // per-vector 4-byte codes: per-block argmin with cid tie-break
    val codes = corpus.map(x => Array.tabulate(4)(b =>
      cids(b).minBy(cid => (blockDist(x, b, cid), cid))))
    val queries = 0 until (K * Per) by (K * Per / 16)
    val recalls = queries.map { q =>
      val dt = Array.tabulate(4)(b => cids(b).map(cid =>
        cid -> blockDist(corpus(q), b, cid)).toMap)
      val ad = corpus.indices.map(i =>
        i -> (0 until 4).map(b => dt(b)(codes(i)(b))).sum)
      val top = ad.sortBy { case (i, dist) => (dist, i) }.take(Per).map(_._1).toSet
      val truth = ((q / Per) * Per until (q / Per + 1) * Per).toSet
      top.intersect(truth).size.toDouble / Per
    }
    recalls.sum / recalls.size
  }

  private def collectCb(df: org.apache.spark.sql.DataFrame): Map[(Int, Int), Array[Double]] =
    df.collect().map(r => (r.getInt(0), r.getInt(1)) ->
      r.getSeq[Double](2).toArray).toMap

  test("Lloyd-trained PQ codebook recovers cluster structure the seed codebook cannot") {
    val e = corpus.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }
      .toSeq.toDF("vec_id", "v")
    val sub = Quantizer.subBlocks(e)
    val seed = collectCb(Quantizer.trainPqBlocks(sub, K, 0)
      .select($"b", $"cid", $"cv"))
    val trained = collectCb(Quantizer.trainPqBlocks(sub, K, Quantizer.Iters)
      .select($"b", $"cid", $"cv"))
    val rSeed = clusterRecall(seed)
    val rTrained = clusterRecall(trained)
    info(f"cluster recall@25 — seed: $rSeed%.3f, trained: $rTrained%.3f")
    assert(rTrained >= 0.95, f"trained codebook failed cluster retrieval: $rTrained%.3f")
    assert(rTrained >= rSeed, "training reduced retrieval recall")
    assert(rSeed <= 0.93, // the lift is real: degenerate seeds must not already saturate
      f"fixture no longer exercises the lift (seed recall $rSeed%.3f)")
  }

  test("training reduces total quantization error monotonically in iterations") {
    val e = corpus.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }
      .toSeq.toDF("vec_id", "v")
    val sub = Quantizer.subBlocks(e)
    def totalErr(cb: Map[(Int, Int), Array[Double]]): Double = {
      val cids = cb.keys.groupBy(_._1).view.mapValues(_.map(_._2).toSeq.sorted).toMap
      corpus.map { x =>
        (0 until 4).map { b =>
          cids(b).map { cid =>
            val c = cb((b, cid))
            (0 until 16).map(d => { val t = x(b * 16 + d) - c(d); t * t }).sum
          }.min
        }.sum
      }.sum
    }
    val errs = Seq(0, 1, 2).map(it =>
      totalErr(collectCb(Quantizer.trainPqBlocks(sub, K, it))))
    info(s"quantization error by iteration: ${errs.map(e => f"$e%.2f").mkString(" -> ")}")
    assert(errs.sliding(2).forall { case Seq(a, b) => b <= a },
      s"error not monotone: $errs")
    assert(errs.last < 0.5 * errs.head,
      s"training barely reduced error: ${errs.head} -> ${errs.last}")
  }

  test("trained coarse centroids partition the clustered corpus into pure lists") {
    val e = corpus.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }
      .toSeq.toDF("vec_id", "v")
    val cent = Quantizer.trainCentroids(e, K, Quantizer.Iters)
    // assign every vector to its nearest trained centroid (L2, cid ties)
    val eVv = e.withColumn("vv", DotProduct.dot(col("v"), col("v")))
    val asg = eVv.crossJoin(broadcast(cent.withColumn("cc", DotProduct.dot(col("cv"), col("cv")))))
      .select($"vec_id",
        struct(round($"vv" - lit(2) * DotProduct.dot(col("v"), col("cv")) + $"cc", 6).as("dist"),
          $"cid").as("dc"))
      .groupBy($"vec_id").agg(min($"dc").as("m"))
      .select($"vec_id", $"m.cid".as("cid"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // purity: within each true cluster, the dominant inverted list holds
    // (almost) every member — the partition training exists to produce
    val purity = (0 until K).map { c =>
      val members = (c * Per until (c + 1) * Per).map(i => asg(i.toLong))
      members.groupBy(identity).values.map(_.size).max.toDouble / Per
    }
    info(f"per-cluster list purity: mean ${purity.sum / K}%.3f min ${purity.min}%.3f")
    assert(purity.sum / K >= 0.9, s"trained lists not pure: $purity")
  }
}
