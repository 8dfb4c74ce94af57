package graft

import graft.functions.CosineSim
import org.apache.spark.sql.functions._

/** Hybrid RRF fusion and filtered ANN: fusion arithmetic verified row by
  * row against the carried per-retriever ranks, ranks cross-checked
  * against the standalone retrievers, and the filtered search compared
  * to an independently-constructed (crossJoin + filter) ground truth.
  */
class Advanced14Spec extends SparkSuite {
  import spark.implicits._

  test("q147 fuses exactly 1/(60+r) per retriever and agrees with q146 ranks") {
    val rows = ops.Retrieval.hybridRrf.run(spark, sf0001).collect()
    assert(rows.nonEmpty && rows.length <= 10)
    def contrib(r: Any): BigDecimal = r match {
      case null => BigDecimal(0)
      case i: Integer => BigDecimal(1.0 / (60 + i.toInt))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP)
    }
    rows.foreach { r =>
      val want = (contrib(r.get(3)) + contrib(r.get(4))).toDouble
      assert(math.abs(r.getDouble(2) - want) < 1e-12,
        s"rrf mismatch for doc ${r.getLong(1)}: ${r.getDouble(2)} vs $want")
      assert(r.get(3) != null || r.get(4) != null,
        "a fused doc must come from at least one retriever")
    }
    // rrf non-increasing in rank, ties broken by doc_id ascending
    val sorted = rows.sortBy(_.getInt(0))
    sorted.sliding(2).foreach { case Array(a, b) =>
      assert(a.getDouble(2) > b.getDouble(2) ||
        (a.getDouble(2) == b.getDouble(2) && a.getLong(1) < b.getLong(1)))
    case _ => }
    // lexical ranks carried in the fusion agree with standalone q146
    val bmRanks = ops.Retrieval.bm25.run(spark, sf0001).collect()
      .map(r => r.getLong(1) -> r.getInt(0)).toMap
    rows.filter(r => r.get(3) != null && r.getInt(3) <= 10).foreach { r =>
      assert(bmRanks.get(r.getLong(1)).contains(r.getInt(3)),
        s"lex_rnk diverged from q146 for doc ${r.getLong(1)}")
    }
    // if semantic rank 1 surfaces in the fused top-10, it must be the
    // query vector itself (cosine 1 to itself, vec_id tiebreak)
    rows.filter(r => r.get(4) != null && r.getInt(4) == 1).foreach { r =>
      assert(r.getLong(1) == 0L, s"sem rank 1 should be vec 0: $r")
    }
  }

  test("q149 phrase hits count overlaps and generalize to longer phrases") {
    val docs = Seq(
      (0L, "table hash table hash"),      // two non-overlapping hits
      (1L, "a a a a"),                     // overlapping "a a": 3 hits
      (2L, "table x hash"),                // gap breaks the phrase
      (3L, "hash table"),                  // order matters
      (4L, "x table hash y table hash z")) // two hits mid-document
      .toDF("doc_id", "text")
    val toks = docs.select($"doc_id",
      posexplode(split($"text", " ")).as(Seq("pos", "term")))
    def hits(phrase: String*): Map[Long, Long] =
      ops.Retrieval.phraseHits(toks, phrase).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hits("table", "hash") == Map(0L -> 2L, 4L -> 2L))
    assert(hits("a", "a") == Map(1L -> 3L), "overlapping starts all count")
    assert(hits("a", "a", "a") == Map(1L -> 2L), "3-term fold chains the joins")
    assert(hits("hash", "table") == Map(0L -> 1L, 3L -> 1L))
  }

  test("q150 ranking metrics: rr and recall from hand-built rankings") {
    // q1: truth hit at rank 2 of 3 → rr 1/2, recall 1/3
    // q2: no hits → rr 0, recall 0
    // q3: hits at ranks 1 and 3 → rr 1, recall 2/3
    val ranking = Seq(
      (1L, 1, 10L), (1L, 2, 11L), (1L, 3, 12L),
      (2L, 1, 20L), (2L, 2, 21L), (2L, 3, 22L),
      (3L, 1, 30L), (3L, 2, 31L), (3L, 3, 32L))
      .toDF("qid", "rnk", "cand")
    val truth = Seq((1L, 11L), (1L, 99L), (1L, 98L),
      (2L, 97L), (2L, 96L), (2L, 95L),
      (3L, 30L), (3L, 32L), (3L, 94L))
      .toDF("qid", "cand")
    val got = ops.Retrieval.rankingMetrics(ranking, truth, 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).sortBy(_._1)
    assert(got.sameElements(Seq(
      (1L, 0.5, 0.333333), (2L, 0.0, 0.0), (3L, 1.0, 0.666667))), got.toSeq)
  }

  test("q150 on real data: self-excluded SQ8 eval, metrics in range") {
    val rows = ops.Retrieval.retrievalEval.run(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(rows.map(_._1).toSeq == Seq(0L, 1L, 2L, 3L, 4L))
    rows.foreach { case (qid, rr, rec) =>
      assert(rr >= 0 && rr <= 1 && rec >= 0 && rec <= 1, s"out of range: $qid")
      // rr ≥ its floor given recall: if any of top-3 hit, rr ≥ 1/3
      assert(rec == 0 || rr >= 0.333333, s"inconsistent rr/recall: $qid $rr $rec")
    }
    // SQ8 is a high-fidelity quantizer: mean recall should stay high
    // (the spec-pinned q145 recall bound, self-match removed)
    val meanRec = rows.map(_._3).sum / rows.length
    assert(meanRec >= 0.6, s"mean recall@3 $meanRec below 0.6")
  }

  test("q148 equals an independently-built same-label exact ranking") {
    val got = ops.Retrieval.filteredAnn.run(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    // independent construction: crossJoin then filter (vs the impl's
    // equi-join on label), same semantics, different plan
    val e = Tables.embeddings(spark, sf0001)
      .select($"vec_id", $"label", graft.functions.VectorFunctions.asDouble($"embedding").as("v"))
    val q = e.filter($"vec_id" < 5)
      .select($"vec_id".as("qid"), $"label".as("qlabel"), $"v".as("qv"))
    val want = e.crossJoin(q)
      .filter($"label" === $"qlabel" && $"vec_id" =!= $"qid")
      .select($"qid", $"vec_id".as("cand"), round(CosineSim.cosine(col("qv"), col("v")), 6).as("sim"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).toSeq.flatMap { case (qid, rows) =>
        rows.sortBy(r => (-r._3, r._2)).take(3).zipWithIndex
          .map { case (r, i) => (qid, i + 1, r._2, r._3) }
      }.sorted
    assert(got.nonEmpty && got.sorted.sameElements(want),
      s"filtered ANN diverged:\n got ${got.sorted.toSeq}\nwant $want")
    // and the filter held: every candidate shares its query's label
    val labels = e.select($"vec_id", $"label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    got.foreach { case (qid, _, cand, _) =>
      assert(labels(qid) == labels(cand), s"label filter violated: $qid -> $cand")
    }
  }
}
