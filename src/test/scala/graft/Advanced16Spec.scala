package graft

import graft.functions.CosineSim
import org.apache.spark.sql.functions._

/** Round-11 retrieval/export surfaces: MaxSim verified against an
  * independent driver-side reference, matryoshka shortlist semantics +
  * measured recall floor, manifest partition/order invariants, context
  * packing's budget tightness, and the NDCG identities.
  */
class Advanced16Spec extends SparkSuite {
  import spark.implicits._

  private def round6(x: Double): BigDecimal =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)

  test("q170 MaxSim matches an independently-computed driver-side reference") {
    val vecs = Tables.embeddings(spark, sf0001)
      .select($"vec_id", $"embedding".cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def sub(v: Array[Double], i: Int): Array[Double] = v.slice(i * 8, i * 8 + 8)
    def dot(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x * y }
    def maxsim(q: Array[Double], c: Array[Double]): Double =
      (0 until 8).map { qt =>
        (0 until 8).map(dt => round6(dot(sub(q, qt), sub(c, dt)))).max
      }.sum.toDouble
    val want = (0L until 3L).flatMap { qid =>
      vecs.keys.filter(_ != qid).toSeq
        .map(c => (qid, c, maxsim(vecs(qid), vecs(c))))
        .sortBy { case (_, c, s) => (-s, c) }
        .take(10).zipWithIndex
        .map { case ((_, c, s), i) => (qid, i + 1, c, s) }
    }.toSet
    val got = ops.Retrieval.lateInteraction.run(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got == want, s"MaxSim diverges from reference:\n  extra=${got -- want}\n  missing=${want -- got}")
  }

  test("q171 shortlist containment + measured recall floor vs exact full-dim top-5") {
    val rows = ops.Retrieval.matryoshkaRerank.run(spark, sf0001).collect()
    assert(rows.length == 8 * 5)
    // every re-ranked candidate must genuinely come from the prefix
    // shortlist: its psim must be >= the 40th-best prefix sim per query
    val vecs = Tables.embeddings(spark, sf0001)
      .select($"vec_id", $"embedding".cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x * y }
      val na = math.sqrt(a.zip(a).foldLeft(0.0) { case (acc, (x, y)) => acc + x * y })
      val nb = math.sqrt(b.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x * y })
      d / (na * nb)
    }
    val exactTop5 = (0L until 8L).map { qid =>
      qid -> vecs.keys.filter(_ != qid).toSeq
        .map(c => c -> round6(cos(vecs(qid), vecs(c))))
        .sortBy { case (c, s) => (-s, c) }.take(5).map(_._1).toSet
    }.toMap
    val hit = rows.count(r => exactTop5(r.getLong(0)).contains(r.getLong(2)))
    val recall = hit.toDouble / rows.length
    // measured 0.675 at sf0.001 on the isotropic testdata (prefix-16 of
    // 64 uniform dims carries 1/4 of the signal); floor pinned below
    assert(recall >= 0.5, s"matryoshka recall@5 collapsed to $recall")
    // fsim ordering + rank density per query
    rows.groupBy(_.getLong(0)).values.foreach { qr =>
      val sorted = qr.sortBy(_.getInt(1))
      assert(sorted.map(_.getInt(1)).toSeq == (1 to 5))
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getDouble(3) > b.getDouble(3) ||
            (a.getDouble(3) == b.getDouble(3) && a.getLong(2) < b.getLong(2)))
        case _ =>
      }
    }
  }

  test("q172 manifest partitions the corpus and is order/partitioning-invariant") {
    val m = ops.Packing.shardManifest.run(spark, sf0001).collect()
    assert(m.map(_.getLong(0)).toSeq == (0L until 16L),
      "all 16 shards must be non-empty at sf0.001")
    val docs = Tables.documents(spark, sf0001)
    assert(m.map(_.getLong(1)).sum == docs.count(),
      "shards must partition the corpus exactly")
    // the manifest is a pure function of content: a shuffled, oddly
    // partitioned copy of the corpus yields byte-identical rows
    val shuffled = docs.repartition(7, col("lang")).sortWithinPartitions(col("text"))
    val dir = "/tmp/graft_a16_shuffled"
    shuffled.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    for (t <- Seq("embeddings")) // loader only touches documents, but keep the dir valid
      Tables.table(spark, sf0001, t).limit(1).write.mode("overwrite").parquet(s"$dir/$t.parquet")
    val m2 = ops.Packing.shardManifest.run(spark, dir).collect()
    assert(m.map(_.toSeq).toSeq == m2.map(_.toSeq).toSeq,
      "manifest changed under repartition/reorder")
  }

  test("q173 packs to the budget tightly: next-ranked doc would overflow") {
    val packed = ops.Packing.contextPack.run(spark, sf0001).collect()
    assert(packed.nonEmpty)
    // re-run the pack with an unbounded budget to recover the full
    // shortlist, then check tightness per query
    val e = Tables.embeddings(spark, sf0001)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val q = e.filter($"vec_id" < 5).select($"vec_id".as("qid"), $"v".as("qv"))
    val wr = org.apache.spark.sql.expressions.Window
      .partitionBy($"qid").orderBy($"sim".desc, $"doc_id")
    val short = e.crossJoin(broadcast(q)).filter($"vec_id" =!= $"qid")
      .select($"qid", $"vec_id".as("doc_id"),
        round(CosineSim.cosine(col("qv"), col("v")), 6).as("sim"))
      .withColumn("rnk", row_number().over(wr)).filter($"rnk" <= 20)
    val toks = Tables.documents(spark, sf0001)
      .select($"doc_id", size(split($"text", " ")).cast("long").as("n_toks"))
    val full = ops.Packing.packContext(short, toks, Int.MaxValue)
      .select($"qid", $"rnk", $"cum_toks").collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    packed.groupBy(_.getLong(0)).foreach { case (qid, qr) =>
      val last = qr.map(_.getInt(1)).max
      val lastCum = qr.find(_.getInt(1) == last).get.getLong(4)
      assert(lastCum <= 512, s"q$qid pack exceeds budget: $lastCum")
      // ranks are a prefix of the shortlist (prefix packing, no skips)
      assert(qr.map(_.getInt(1)).sorted.toSeq == (1 to last))
      full.get((qid, last + 1)).foreach { next =>
        assert(next > 512, s"q$qid pack is not tight: rank ${last + 1} still fits ($next)")
      }
    }
  }

  test("q178 served MaxSim scores match the driver reference and rank correctly") {
    val got = ops.Retrieval.scaledMaxSim.run(spark, sf0001).collect()
    assert(got.length == 5 * 3, s"5 queries x top-3, got ${got.length}")
    val vecs = Tables.embeddings(spark, sf0001)
      .select($"vec_id", $"embedding".cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def sub(v: Array[Double], i: Int): Array[Double] = v.slice(i * 8, i * 8 + 8)
    def dot(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x * y }
    def maxsim(q: Array[Double], c: Array[Double]): Double =
      (0 until 8).map { qt =>
        (0 until 8).map(dt => round6(dot(sub(q, qt), sub(c, dt)))).max
      }.sum.toDouble
    got.foreach { r =>
      assert(r.getLong(2) != r.getLong(0), "self excluded")
      assert(r.getDouble(3) == maxsim(vecs(r.getLong(0)), vecs(r.getLong(2))),
        s"served maxsim diverges from reference at $r")
    }
    got.groupBy(_.getLong(0)).values.foreach { qr =>
      val sorted = qr.sortBy(_.getInt(1))
      assert(sorted.map(_.getInt(1)).toSeq == (1 to 3))
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getDouble(3) > b.getDouble(3) ||
            (a.getDouble(3) == b.getDouble(3) && a.getLong(2) < b.getLong(2)))
        case _ =>
      }
    }
  }

  test("q174 NDCG identities: idcg is the closed-form constant, dcg <= idcg, ndcg in (0,1]") {
    val rows = ops.Retrieval.ndcgEval.run(spark, sf0001).collect()
    assert(rows.length == 8)
    // idcg = sum_{r=1..5} round((6-r)/log2(r+1), 6) — a data-independent
    // constant while the full ranking always yields 5 truth rows
    val idcgWant = (1 to 5).map(r => round6((6 - r) / (math.log(r + 1) / math.log(2)))).sum.toDouble
    rows.foreach { r =>
      assert(r.getDouble(2) == idcgWant, s"idcg ${r.getDouble(2)} != $idcgWant")
      assert(r.getDouble(1) <= r.getDouble(2), "dcg cannot exceed ideal")
      // 0 is reachable: on isotropic vectors a prefix top-5 can share
      // nothing with the full top-5 (qid 0 at sf0.001 measures exactly 0)
      assert(r.getDouble(3) >= 0 && r.getDouble(3) <= 1.0, s"ndcg out of range: $r")
      assert(r.getDouble(3) == round6(r.getDouble(1) / r.getDouble(2)).toDouble)
    }
  }
}
