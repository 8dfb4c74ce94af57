package graft

import java.nio.file.Files

/** Semantics of the round-4 corpus-statistics batch on a crafted corpus
  * with known token frequencies, a known near-dup/containment family,
  * disjoint source length distributions (KS = 1), and embeddings with
  * hand-computable second moments.
  */
class Advanced9Spec extends SparkSuite {
  import spark.implicits._

  private lazy val dir: String = {
    val d = Files.createTempDirectory("graft_adv9_fixture").toString
    val base = "the quick brown fox jumps over the lazy dog tonight again"
    val ks = (0 until 4).flatMap { i =>
      Seq(
        (10L + i, s"new york fillA${i}1 fillA${i}2 fillA${i}3", "en", "ksa", 10L * (i + 1)),
        (20L + i, s"new york fillB${i}1 fillB${i}2 fillB${i}3", "en", "ksb", 100L * (i + 1)))
    }
    val docs = (Seq(
      (0L, base, "en", "misc1", 57L),
      (1L, base, "en", "misc2", 57L), // exact dup of 0 -> LSH candidate pair
      (2L, "palabras distintas sobre motores electricos aqui mismo hoy", "es", "misc1", 58L),
      (3L, "zzz1 zzz2 zzz3", "en", "misc2", 14L), // all-singleton tokens
      (4L, base + " extraword", "en", "misc1", 68L)) ++ ks) // superset of 0
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.coalesce(1).write.parquet(s"$d/documents.parquet")
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 2.0f, 0.0f, 0.0f, 0.0f, 0.0f, 1.0f), 0),
      (1L, Array(3.0f, 4.0f, 2.0f, 0.0f, 0.0f, 0.0f, 0.0f, 1.0f), 0))
      .toDF("vec_id", "embedding", "label")
    emb.coalesce(1).write.parquet(s"$d/embeddings.parquet")
    d
  }

  test("token commonness: all-singleton doc has rarest_freq 1 and mean 1.0") {
    val rows = ops.Advanced9.tokenCommonness.run(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("rarest_freq"), r.getAs[Double]("mean_tok_freq"))).toMap
    assert(rows(3L) == (1L, 1.0))
    assert(rows(0L)._2 > rows(3L)._2) // common-token doc scores higher
  }

  test("pagerank: candidate graph nodes get positive, symmetric ranks") {
    val rows = ops.Advanced9.pagerank.run(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("degree"), r.getAs[Double]("pagerank"))).toMap
    // docs 0, 1, 4 form a 3-clique (dup pair + superset) -> a regular
    // graph, so damped PageRank stays exactly uniform at 1.0
    assert(rows == Map(0L -> (2L, 1.0), 1L -> (2L, 1.0), 4L -> (2L, 1.0)))
  }

  test("pmi collocations: 'new york' is the only bigram with support >= 5") {
    val rows = ops.Advanced9.pmiCollocations.run(spark, dir).collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[String]("gr") == "new york")
    assert(rows.head.getAs[Long]("nxy") == 8L)
    assert(rows.head.getAs[Double]("lift") > 1.0) // perfect collocation
  }

  test("embedding moments: hand-computed second moments match") {
    val m = ops.Advanced9.embeddingMoments.run(spark, dir).collect()
      .map(r => (r.getAs[Int]("i"), r.getAs[Int]("j")) -> r.getAs[Double]("m2")).toMap
    assert(m.size == 36)
    assert(m((0, 0)) == 5.0) // (1 + 9) / 2
    assert(m((0, 1)) == 6.0) // (0 + 12) / 2
    assert(m((1, 1)) == 8.0) // (0 + 16) / 2
    assert(m((0, 2)) == 4.0) // (2 + 6) / 2
    assert(m((7, 7)) == 1.0)
    assert(m((3, 4)) == 0.0)
  }

  test("dup spans: exact dup 100%, superset 7/8, unique doc 0%") {
    val pct = ops.Advanced9.dupSpanFraction.run(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("dup_pct")).toMap
    assert(pct(0L) == 100.0)
    assert(pct(1L) == 100.0)
    assert(pct(4L) == 87.5) // 7 of its 8 spans shared with doc 0/1
    assert(pct(2L) == 0.0)
  }

  test("oov rate: singleton-token doc is 100% OOV, base doc has 2 OOV tokens") {
    val rows = ops.Advanced9.oovRate.run(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_oov"), r.getAs[Double]("oov_pct"))).toMap
    assert(rows(3L) == (3L, 100.0))
    // top-10 vocab = new/york/the + 7 of the count-3 tokens (lexical
    // tie-break) -> 'quick' and 'tonight' fall out of vocab
    assert(rows(0L)._1 == 2L)
  }

  test("containment: exact dup pair has cont 1.0 both ways; superset pair is asymmetric") {
    val rows = ops.Advanced9.containment.run(spark, dir).collect()
      .map(r => (r.getAs[Long]("da"), r.getAs[Long]("db")) ->
        (r.getAs[Double]("cont_a"), r.getAs[Double]("cont_b")))
    val m = rows.toMap
    assert(m((0L, 1L)) == (1.0, 1.0))
    // (0, 4): doc 4's gram set strictly contains doc 0's
    val (ca, cb) = m((0L, 4L))
    assert(ca == 1.0 && cb < 1.0)
  }

  test("quota sample: exactly min(10, n) docs per language, rerun-stable") {
    val rows = ops.Sampling.quotaSample.run(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("lang"), r.getAs[Int]("rk")))
    val perLang = rows.groupBy(_._2).view.mapValues(_.length).toMap
    assert(perLang("en") == 10) // 12 en docs capped at 10
    assert(perLang("es") == 1)  // 1 es doc -> quota is the stratum size
    // ranks are dense 1..k within each stratum
    assert(rows.filter(_._2 == "en").map(_._3).sorted.toSeq == (1 to 10))
    // hash membership is deterministic: a rerun picks the identical docs
    val again = ops.Sampling.quotaSample.run(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("lang"), r.getAs[Int]("rk")))
    assert(rows.toSeq == again.toSeq)
  }

  test("weighted sample: per-source accounting is consistent and rerun-stable") {
    val rows = ops.Sampling.weightedSample.run(spark, dir).collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("n_sampled") <= r.getAs[Long]("n_docs"))
      assert(r.getAs[Long]("sampled_chars") <= r.getAs[Long]("total_chars"))
    }
    val again = ops.Sampling.weightedSample.run(spark, dir).collect()
    assert(rows.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }

  test("dataset card: hand-computed per-source stats") {
    val m = ops.Advanced9.datasetCard.run(spark, dir).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    val misc1 = m("misc1") // docs 0 (57), 2 (58), 4 (68)
    assert(misc1.getAs[Long]("n_docs") == 3L)
    assert(misc1.getAs[Long]("n_langs") == 2L) // en + es
    assert(misc1.getAs[Long]("total_chars") == 183L)
    assert(misc1.getAs[Double]("mean_chars") == 61.0)
    assert(misc1.getAs[Double]("short_pct") == 100.0) // all < 120 chars
    val ksb = m("ksb") // 100/200/300/400 chars -> one short doc
    assert(ksb.getAs[Double]("short_pct") == 25.0)
  }

  test("ks drift: disjoint length distributions give KS = 1.0 on the two largest sources") {
    val r = ops.Advanced9.ksDrift.run(spark, dir).collect()
    assert(r.length == 1)
    assert(r.head.getAs[String]("src_a") == "ksa")
    assert(r.head.getAs[String]("src_b") == "ksb")
    assert(r.head.getAs[Long]("d_scaled") == 16L)
    assert(r.head.getAs[Double]("ks_stat") == 1.0)
  }

  test("ksBetween: decimal-exact stat; an empty side yields 0.0, not null") {
    val a = Seq(1L, 2L, 3L, 4L).toDF("n_chars")
    val b = Seq(3L, 4L, 5L, 6L).toDF("n_chars")
    val r = ops.Advanced9.ksBetween(a, b, "n_chars").collect().head
    assert((r.getAs[Long]("n_a"), r.getAs[Long]("n_b")) == ((4L, 4L)))
    assert(r.getAs[Double]("ks_stat") == 0.5) // D = max|ECDF diff| = 2/4
    // one side empty: D is vacuously 0 and the stat must be a real 0.0
    // (a null here NPEs CorpusPipeline's run-report getAs[Double])
    val e1 = ops.Advanced9.ksBetween(a.limit(0), b, "n_chars").collect().head
    assert((e1.getAs[Long]("n_a"), e1.getAs[Double]("ks_stat")) == ((0L, 0.0)))
    val e2 = ops.Advanced9.ksBetween(a.limit(0), b.limit(0), "n_chars").collect().head
    assert((e2.getAs[Long]("n_b"), e2.getAs[Double]("ks_stat")) == ((0L, 0.0)))
  }
}
