package graft

import graft.ops.{Curation, Tokenization}
import org.apache.spark.sql.functions._

/** Round-9 curation ops: the bigram-LM scorer's signals behave like an
  * LM (repeated-template docs score common, one-off word salad scores
  * rare), the guarded split provably never leaks a near-dup pair while
  * the naive split does on the real candidate graph, and the
  * temperature mixture flattens the language distribution exactly as
  * n^(1/2) predicts — plus the exact-isqrt helper law it rides on.
  */
class Advanced15Spec extends SparkSuite {

  test("q154: every transition score is a valid ppm and docs full of corpus-common transitions outscore word salad") {
    val out = Tokenization.bigramLmScore.run(spark, sf0001).cache()
    val n = out.count()
    assert(n > 0)
    // ppm bounds: a transition score is a convex mix of two probabilities
    val bad = out.filter(col("rarest_ppm") < 0 || col("rarest_ppm") > 1000000 ||
      col("mean_ppm") < col("rarest_ppm")).count()
    assert(bad == 0)
    // monotonicity probe: the doc with the highest mean must have a mean
    // >= the corpus median doc's (sanity that the ranking is non-flat)
    val means = out.select(col("mean_ppm")).as[Long](spark.implicits.newLongEncoder)
      .collect().sorted
    assert(means.last > means(means.length / 2), "score distribution is flat")
    out.unpersist()
  }

  test("q155: guarded split never leaks, naive split is a strict superset of leakage, and splits partition the corpus") {
    val out = Curation.splitLeakageGuard.run(spark, sf0001).cache()
    val rows = out.collect()
    assert(rows.nonEmpty && rows.length <= 3)
    val guarded = rows.head.getAs[Long]("guarded_leak_pairs")
    val naive = rows.head.getAs[Long]("naive_leak_pairs")
    assert(guarded == 0L, s"guarded split leaked $guarded near-dup pairs")
    assert(naive >= guarded)
    val totalDocs = rows.map(_.getAs[Long]("n_docs")).sum
    val corpus = Tables.documents(spark, sf0001).count()
    assert(totalDocs == corpus, s"splits cover $totalDocs of $corpus docs")
    out.unpersist()
  }

  test("q155 determinism: rerunning assigns every document the identical split") {
    val a = Curation.splitLeakageGuard.run(spark, sf0001).collect()
    val b = Curation.splitLeakageGuard.run(spark, sf0001).collect()
    assert(a.toSeq == b.toSeq)
  }

  test("q156: temperature sampling flattens the language mix toward n^(1/2) shares") {
    val out = Curation.temperatureMixture.run(spark, sf0001).cache()
    val rows = out.collect()
    assert(rows.length >= 2)
    // weights are exact integer square roots of the language sizes
    rows.foreach { r =>
      val n = r.getAs[Long]("n_docs"); val w = r.getAs[Long]("weight")
      assert(w * w <= n && (w + 1) * (w + 1) > n, s"weight $w is not isqrt($n)")
    }
    // the sampled share of the largest language must shrink relative to
    // its raw share, and the smallest language's share must grow —
    // the whole point of the α=1/2 temperature
    val tot = rows.map(_.getAs[Long]("n_docs")).sum.toDouble
    val sTot = rows.map(_.getAs[Long]("n_sampled")).sum.toDouble
    val big = rows.maxBy(_.getAs[Long]("n_docs"))
    val small = rows.minBy(_.getAs[Long]("n_docs"))
    assert(big.getAs[Long]("n_sampled") / sTot <
      big.getAs[Long]("n_docs") / tot + 1e-9, "largest language was not downweighted")
    assert(small.getAs[Long]("n_sampled") / sTot >
      small.getAs[Long]("n_docs") / tot - 1e-9, "smallest language was not upweighted")
    // realized counts track targets: hash thresholding is unbiased, so
    // each language lands within a generous band of its target
    rows.foreach { r =>
      val t = r.getAs[Long]("target_docs"); val s = r.getAs[Long]("n_sampled")
      assert(math.abs(s - t) <= math.max(10L, t), s"sampled $s vs target $t")
    }
    out.unpersist()
  }

  test("q157: the distilled linear scorer actually learns — accuracy beats the class prior by a wide margin") {
    val r = Curation.linearQualityClassifier.run(spark, sf0001).collect()(0)
    val (tp, fp, tn, fn) = (r.getAs[Long]("tp"), r.getAs[Long]("fp"),
      r.getAs[Long]("tn"), r.getAs[Long]("fn"))
    val n = tp + fp + tn + fn
    assert(n == Tables.documents(spark, sf0001).count())
    val acc = (tp + tn).toDouble / n
    val prior = math.max(tp + fn, tn + fp).toDouble / n // majority-class baseline
    assert(acc > 0.90, s"accuracy $acc — optimizer did not learn")
    assert(acc > prior + 0.2, s"accuracy $acc vs majority prior $prior")
    // token count drives the teacher's length rule: its weight must be
    // the dominant positive signal
    assert(r.getAs[Long]("w_ntok") > 0 &&
      r.getAs[Long]("w_ntok") > r.getAs[Long]("w_toklen"))
    // acc_ppm is the half-up micro-unit form of the same ratio
    assert(math.abs(r.getAs[Long]("acc_ppm") - math.round(acc * 1000000)) <= 1)
  }

  test("q157 determinism: retraining yields identical weights and confusion") {
    val a = Curation.linearQualityClassifier.run(spark, sf0001).collect().toSeq
    val b = Curation.linearQualityClassifier.run(spark, sf0001).collect().toSeq
    assert(a == b)
  }

  test("q158: sampling follows the learned score — every source keeps roughly mean_score/2 and never more than all") {
    val rows = Curation.qualityWeightedSample.run(spark, sf0001).collect()
    assert(rows.length >= 2)
    rows.foreach { r =>
      val n = r.getAs[Long]("n_docs"); val k = r.getAs[Long]("n_sampled")
      val mean = r.getAs[Long]("mean_score_ppm")
      assert(k >= 0 && k <= n)
      assert(mean >= 0 && mean <= 1000000)
      // unbiased hash thresholding: expected keeps = Σ score/2 ≈ n·mean/2;
      // allow a generous binomial band on 25-doc sources
      val expected = n * mean / 2000000.0
      assert(math.abs(k - expected) <= math.max(6.0, 3 * math.sqrt(expected + 1)),
        s"source kept $k vs expected ~$expected of $n")
    }
    // the sampler must actually thin: total keeps strictly between 0 and all
    val (tot, kept) = (rows.map(_.getAs[Long]("n_docs")).sum,
      rows.map(_.getAs[Long]("n_sampled")).sum)
    assert(kept > 0 && kept < tot)
  }

  test("isqrt law: exact floor square root at perfect-square boundaries and near 2^50") {
    import spark.implicits._
    // adversarial set: squares, squares ±1, and values where double sqrt
    // rounding would be off by one ulp without the integer correction
    val probes = (0L to 70L).flatMap(k => Seq(k * k - 1, k * k, k * k + 1)) ++
      Seq(1L << 40, (1L << 40) - 1, (1L << 50) - 1, 1L << 50,
        ((1L << 25) - 1) * ((1L << 25) - 1),
        ((1L << 25) - 1) * ((1L << 25) - 1) - 1) filter (_ >= 0)
    val got = probes.toDF("x")
      .select(org.apache.spark.sql.functions.col("x"),
        Curation.isqrt(org.apache.spark.sql.functions.col("x")).as("r"))
      .collect()
    got.foreach { row =>
      val (x, r) = (row.getLong(0), row.getLong(1))
      assert(r * r <= x && (r + 1) * (r + 1) > x, s"isqrt($x) = $r violates the law")
    }
  }
}
