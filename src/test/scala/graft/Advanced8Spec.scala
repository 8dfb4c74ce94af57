package graft

import graft.ops.{Curation, Retrieval, SqlSurface}
import org.apache.spark.sql.functions._

/** Semantic properties of the round-4 batch (the oracle hash-checks the
  * values; these lock the invariants the values are supposed to have).
  */
class Advanced8Spec extends SparkSuite {
  import spark.implicits._

  test("q98 SCD2: versions are dense per customer and intervals chain") {
    val iv = SqlSurface.scd2Intervals.run(spark, sf0001).cache()
    // versions 1..n per customer with exactly one open interval (eff_to null)
    val perCust = iv.groupBy($"o_custkey")
      .agg(count(lit(1)).as("n"), max($"version").as("maxv"),
        count(when($"eff_to".isNull, 1)).as("n_open"))
    assert(perCust.filter($"n" =!= $"maxv" || $"n_open" =!= 1).isEmpty)
    // each interval's eff_to equals the next version's eff_from
    val a = iv.select($"o_custkey", $"version", $"eff_to")
    val b = iv.select($"o_custkey", ($"version" - 1).as("version"), $"eff_from")
    val chained = a.join(b, Seq("o_custkey", "version"))
    assert(chained.filter($"eff_to" =!= $"eff_from").isEmpty)
    // consecutive versions never repeat a status
    val s1 = iv.select($"o_custkey", $"version", $"o_orderstatus".as("s_cur"))
    val s2 = iv.select($"o_custkey", ($"version" - 1).as("version"),
      $"o_orderstatus".as("s_next"))
    assert(s1.join(s2, Seq("o_custkey", "version"))
      .filter($"s_cur" === $"s_next").isEmpty)
  }

  test("q99 windowed dedup: kept + dropped reconciles with raw event counts") {
    val dd = SqlSurface.windowDedup.run(spark, sf0001)
    val raw = Tables.events(spark, sf0001)
      .groupBy($"user_id", $"event_type").agg(count(lit(1)).as("n_raw"))
    val j = dd.join(raw, Seq("user_id", "event_type"))
    assert(j.filter($"n_events" =!= $"n_raw").isEmpty)
    assert(j.filter($"n_windows" + $"n_dropped" =!= $"n_events").isEmpty)
  }

  test("q100 forward-fill: every missing value after the first observation fills") {
    val ff = SqlSurface.forwardFill.run(spark, sf0001)
    // unfillable rows are exactly the error-events preceding a user's first
    // measurement; sanity: fills never exceed misses, and some fills happen
    val agg = ff.agg(sum($"n_missing").as("miss"), sum($"n_filled").as("fill"))
      .head()
    assert(agg.getLong(1) > 0 && agg.getLong(1) <= agg.getLong(0))
  }

  test("q101 reweighting: factors are inversely ordered by source size") {
    val rw = Curation.mixtureReweight.run(spark, sf0001).collect()
    val bySize = rw.sortBy(_.getAs[Long]("toks"))
    val factors = bySize.map(_.getAs[Double]("repeat_factor"))
    assert(factors.zip(factors.tail).forall { case (a, b) => a >= b },
      s"factors not monotone vs size: ${factors.toSeq}")
  }

  test("q109 ADC search: recall@3 vs the exact L2 top-3 is non-degenerate") {
    import graft.functions.{DotProduct, VectorFunctions}
    val adc = Retrieval.pqAdcSearch.run(spark, sf0001)
      .select($"qid", $"cand").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val e = Tables.embeddings(spark, sf0001)
      .select($"vec_id", VectorFunctions.asDouble($"embedding").as("v"))
    val q = e.filter($"vec_id" < 5).select($"vec_id".as("qid"), $"v".as("qv"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"qid").orderBy($"dist", $"cand")
    val exact = q.crossJoin(e)
      .select($"qid", $"vec_id".as("cand"),
        (DotProduct.dot(col("qv"), col("qv")) - lit(2) * DotProduct.dot(col("qv"), col("v")) +
          DotProduct.dot(col("v"), col("v"))).as("dist"))
      .withColumn("rnk", row_number().over(w)).filter($"rnk" <= 3)
      .select($"qid", $"cand").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val recalls = exact.map { case (qid, ex) => adc(qid).intersect(ex).size / 3.0 }
    info(f"q109 mean recall@3: ${recalls.sum / recalls.size}%.3f")
    // every query finds at least one true neighbor through 4-byte codes
    assert(recalls.forall(_ >= 1.0 / 3), recalls.toString)
    assert(recalls.sum / recalls.size >= 0.4, s"mean recall ${recalls.sum / recalls.size}")
  }

  test("q140 IVF+ADC: candidates confined to probed lists; recall vs exact") {
    import graft.functions.{CosineSim, DotProduct, VectorFunctions}
    val res = Retrieval.ivfAdcSearch.run(spark, sf0001)
      .select($"qid", $"cand").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val e = Tables.embeddings(spark, sf0001)
      .select($"vec_id", VectorFunctions.asDouble($"embedding").as("v"))
    // recompute the coarse quantizer the way q49/q140 define it — over
    // the TRAINED centroids (Quantizer.ivfCentroids, Lloyd from 16 seeds)
    val cent = graft.ops.Quantizer.ivfCentroids(spark, sf0001)
      .select($"cid".cast("long").as("c_id"), $"cv")
    val wAff = org.apache.spark.sql.expressions.Window
      .partitionBy($"vec_id").orderBy($"ca".desc, $"c_id")
    val aff = e.crossJoin(cent)
      .select($"vec_id", $"c_id", round(CosineSim.cosine(col("v"), col("cv")), 6).as("ca"))
      .withColumn("crank", row_number().over(wAff))
    val assigned = aff.filter($"crank" === 1).select($"vec_id", $"c_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val probes = aff.filter($"crank" <= 2 && $"vec_id" < 5)
      .select($"vec_id", $"c_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    // CONFINEMENT: every returned neighbor lives in one of its query's
    // two probed inverted lists — the scan never left the probe set
    res.foreach { case (qid, cands) =>
      cands.foreach(c => assert(probes(qid).contains(assigned(c)),
        s"q$qid returned $c from unprobed list ${assigned(c)}"))
    }
    // RECALL vs the exact L2 top-3 (self excluded, like the query):
    // two approximations stack (2/16 coarse probes, then 4-byte codes)
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
    val recalls = exact.map { case (qid, ex) =>
      res.getOrElse(qid, Set.empty).intersect(ex).size / 3.0 }
    // the PROBE CEILING: what exact re-rank inside the probed lists could
    // recover — the IVF confinement's own recall cap, which no codebook
    // can exceed. The ADC bar below is relative to this ceiling, so it
    // measures code quality, not probe luck.
    val ceilings = exact.map { case (qid, ex) =>
      ex.count(c => probes(qid).contains(assigned(c))) / 3.0 }
    val meanR = recalls.sum / recalls.size
    val meanC = ceilings.sum / ceilings.size
    info(f"q140 mean recall@3: $meanR%.3f (probe ceiling $meanC%.3f)")
    // Measured 0.333 vs ceiling 0.800 with the trained quantizers
    // (round 6; 0.267 with the seed stand-ins). The testdata embeddings
    // are ISOTROPIC unit vectors (no cluster structure — verified: per-dim
    // σ≈1/√64, unit norms), so code discrimination is bounded by distance
    // concentration no matter the codebook; QuantizerSpec demonstrates the
    // training lift on a corpus that HAS structure. The bars here guard
    // degeneration, absolutely and relative to the probe ceiling.
    assert(meanR >= 0.3, s"IVF+ADC recall degenerate: $recalls")
    assert(meanR >= 0.3 * meanC,
      f"ADC ranking recovers too little of the probe ceiling: $meanR%.3f vs $meanC%.3f")
    // …and the COMPLETE read path (q143: ADC shortlist-32 → exact
    // re-rank) must repair ADC's in-shortlist ranking errors and land at
    // the probe ceiling: every true neighbor inside a probed list that
    // ADC shortlists is recovered exactly.
    val rr = Retrieval.ivfAdcRerank.run(spark, sf0001)
      .select($"qid", $"cand").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val rerank = exact.map { case (qid, ex) =>
      rr.getOrElse(qid, Set.empty).intersect(ex).size / 3.0 }
    val meanRR = rerank.sum / rerank.size
    info(f"q143 rerank mean recall@3: $meanRR%.3f (probe ceiling $meanC%.3f)")
    assert(meanRR >= 0.9 * meanC,
      f"rerank failed to reach the probe ceiling: $meanRR%.3f vs $meanC%.3f")
    assert(meanRR >= meanR, "exact re-rank must not lose recall vs raw ADC")
  }

  test("graft_deletions: neighborhood contents and the distance-1 blocking guarantee") {
    import graft.functions.Deletions
    val vars = Seq("abc").toDF("s")
      .select(Deletions.deletions($"s").as("v")).head().getSeq[String](0)
    assert(vars == Seq("abc", "bc", "ac", "ab"))
    // dist<=1 pairs ALWAYS share a key: substitution, insertion, deletion, equal
    for ((a, b) <- Seq(("abc", "axc"), ("abc", "abxc"), ("abc", "ab"), ("abc", "abc"))) {
      val va = Deletions.compute(org.apache.spark.unsafe.types.UTF8String.fromString(a))
      val vb = Deletions.compute(org.apache.spark.unsafe.types.UTF8String.fromString(b))
      val sa = (0 until va.numElements()).map(va.getUTF8String(_).toString).toSet
      val sb = (0 until vb.numElements()).map(vb.getUTF8String(_).toString).toSet
      assert(sa.intersect(sb).nonEmpty, s"($a, $b) shares no deletion key")
    }
  }

  test("q110 blocked fuzzy join equals the naive cross join") {
    val blocked = SqlSurface.fuzzyJoin.run(spark, sf0001)
    val cust = Tables.customer(spark, sf0001).select($"c_custkey", $"c_name")
    val probes = cust.filter(pmod($"c_custkey", lit(97)) === 0)
      .select(concat(substring($"c_name", 1, 1), substring($"c_name", 3, 1000)).as("probe"))
      .distinct()
    val naive = cust.crossJoin(probes)
      .filter(levenshtein($"c_name", $"probe") <= 1)
      .select($"probe", $"c_custkey", $"c_name",
        levenshtein($"c_name", $"probe").cast("int").as("dist"))
    assert(blocked.count() == naive.count() && blocked.count() > 0)
    assert(blocked.exceptAll(naive).isEmpty && naive.exceptAll(blocked).isEmpty)
  }

  test("q105 winsorize: mean stays within the clip bounds") {
    val w = SqlSurface.winsorize.run(spark, sf0001)
    assert(w.filter($"winsor_mean" < $"lo" || $"winsor_mean" > $"hi").isEmpty)
    assert(w.filter($"n_lo" + $"n_hi" > $"n").isEmpty)
  }
}
