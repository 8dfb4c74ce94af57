package graft

import graft.ops.{Advanced15, LmModel}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The persisted bigram LM serves q154's exact values on in-corpus
  * batches, applies real unigram backoff to unseen transitions, floors
  * OOV tokens at 0, and scores ingestion batches without touching the
  * training corpus.
  */
class LmModelSpec extends SparkSuite {
  import spark.implicits._

  private lazy val dir: String = {
    val d = Files.createTempDirectory("graft_lm_model").toString
    LmModel.write(spark, Tables.documents(spark, sf0001), d)
    d
  }

  test("saved-model scoreBatch is bit-identical to live q154 on the training corpus") {
    val live = Advanced15.bigramLmScore.run(spark, sf0001)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val served = LmModel.scoreBatch(spark, dir, Tables.documents(spark, sf0001))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(served.size == live.size)
    assert(served == live)
  }

  test("unseen transitions back off to the unigram term; OOV tokens floor at 0") {
    // "batch stream" never occurs adjacently in any training doc? Build a
    // batch from REAL training tokens in an order that guarantees at least
    // one unseen bigram by using a fabricated rare pairing, plus pure OOV.
    val batch = Seq(
      (9000001L, "zzqx zzqy zzqz"), // fully OOV: every transition scores 0
      (9000002L, "the the")        // tokens in-vocab; pair may be unseen
    ).toDF("doc_id", "text")
    val got = LmModel.scoreBatch(spark, dir, batch)
      .collect().map(r => (r.getLong(0), r)).toMap
    assert(got(9000001L).getAs[Long]("mean_ppm") == 0L)
    assert(got(9000001L).getAs[Long]("rarest_ppm") == 0L)
    // "the the": whatever its bigram status, the score must be positive
    // (unigram backoff of an in-vocab token is > 0) and bounded by 1e6
    val s2 = got(9000002L).getAs[Long]("mean_ppm")
    assert(s2 > 0L && s2 <= 1000000L)
  }

  test("q154 semantics on a crafted corpus: hand-computed interpolated scores, 1-token docs drop") {
    // corpus: d0 = "a b", d1 = "a b", d2 = "a c", d3 = "x" (no transition)
    // tokens: a×3 b×2 c×1 x×1 (N=7); bigrams: "a b"×2, "a c"×1
    val docs = Seq((0L, "a b"), (1L, "a b"), (2L, "a c"), (3L, "x"))
      .toDF("doc_id", "text")
    val d = Files.createTempDirectory("graft_lm_crafted").toString
    LmModel.write(spark, docs, d)
    val got = LmModel.scoreBatch(spark, d, docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // hud = round-half-away integer div. "a b": p_cond = hud(2e6, 3) =
    // 666667, p_uni(b) = hud(2e6, 7) = 285714 →
    // s = hud(9·666667 + 285714, 10) = hud(6285717, 10) = 628572
    assert(got(0L) == ((1L, 628572L, 628572L)))
    assert(got(1L) == got(0L))
    // "a c": p_cond = hud(1e6,3) = 333333, p_uni(c) = hud(1e6,7) = 142857
    // s = hud(9·333333 + 142857, 10) = hud(3142854, 10) = 314285
    assert(got(2L) == ((1L, 314285L, 314285L)))
    // 1-token doc: no transitions -> absent from the scored output
    assert(!got.contains(3L))
  }

  test("q159 (live incremental scoring) is bit-identical to a persisted write + scoreBatch roundtrip") {
    val docs = Tables.documents(spark, sf0001)
    val live = Advanced15.incrementalLmScore.run(spark, sf0001).collect().toSeq
    val d2 = Files.createTempDirectory("graft_lm_rt").toString
    LmModel.write(spark, docs.filter(col("doc_id") < 400), d2)
    val served = LmModel.scoreBatch(spark, d2, docs.filter(col("doc_id") >= 400))
      .orderBy(col("doc_id")).collect().toSeq
    assert(live == served)
    // the delta must actually exercise the backoff branch: count its
    // transitions whose bigram the training corpus never saw — if this
    // drops to zero after a testdata regeneration, q159 has silently
    // become q154 in disguise and the gate's extra coverage is gone
    val corpusGrams = LmModel.transitions(docs.filter(col("doc_id") < 400))
      .select(col("gram")).distinct()
    val unseen = LmModel.transitions(docs.filter(col("doc_id") >= 400))
      .join(corpusGrams, Seq("gram"), "left_anti").count()
    assert(unseen > 0, "delta shares every bigram with the corpus — backoff branch untested by q159")
  }

  test("serve path prunes model partitions by the batch's gram buckets and pins no broadcast") {
    val batch = Seq((9200001L, "the quick brown")).toDF("doc_id", "text")
    val plan = LmModel.scoreBatch(spark, dir, batch)
      .queryExecution.executedPlan.toString
    // both model scans must carry the bucket predicate as a PARTITION
    // filter (it prunes directories, not rows) — the 100 TB contract
    assert(plan.contains("PartitionFilters") && plan.contains("bkt#"),
      plan.take(3000))
    // and the model side must not be pinned to a broadcast: a
    // diversity-sized table under a forced hint OOMs instead of degrading.
    // AQE may still CHOOSE broadcast here (the pruned slice is tiny) —
    // what we assert is the absence of the hint in the analyzed plan.
    val analyzed = LmModel.scoreBatch(spark, dir, batch)
      .queryExecution.analyzed.toString
    assert(!analyzed.toLowerCase.contains("hint"), analyzed.take(3000))
  }

  test("a model-sized (non-64) bucket layout scores identically and prunes with the persisted count") {
    // bucketsFor only leaves its 64 floor past ~64M distinct bigrams —
    // unreachable at oracle scale — so a non-default count is exercised
    // by override: serve values must not move, and the serve-side
    // pruning must hash with the layout's persisted count (a 64-hash
    // probe against a 5-bucket layout would read wrong directories)
    val d5 = Files.createTempDirectory("graft_lm_b5").toString
    LmModel.write(spark, Tables.documents(spark, sf0001), d5,
      bucketsOverride = Some(5))
    val probe = Tables.documents(spark, sf0001).limit(40)
      .withColumn("doc_id", col("doc_id") + 5000L)
    def scored(m: String) = LmModel.scoreBatch(spark, m, probe)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val got = scored(d5)
    assert(got.nonEmpty && got == scored(dir),
      "bucket count changed scores — it must be physical layout only")
    val bkts = spark.read.parquet(s"$d5/bigrams")
      .select(col("bkt")).distinct().collect().map(_.getInt(0))
    assert(bkts.nonEmpty && bkts.forall(_ < 5), s"layout not 5-bucketed: ${bkts.toSeq}")
  }

  test("a batch with no scoreable transitions (1-token docs) returns empty, not an error") {
    // empty bucket discovery -> isin() over no values -> empty model
    // slices -> empty result; the edge the bucket-pruned path added
    val batch = Seq((9300001L, "spark"), (9300002L, "x")).toDF("doc_id", "text")
    assert(LmModel.scoreBatch(spark, dir, batch).count() == 0L)
  }

  test("scoreDrift: re-scoring the training docs reproduces the persisted baseline bit-for-bit") {
    val d = Files.createTempDirectory("graft_lm_drift_rt").toString
    val docs = Tables.documents(spark, sf0001)
    LmModel.write(spark, docs, d)
    LmModel.writeScoreStats(spark, d, docs)
    val rows = LmModel.scoreDrift(spark, d, docs)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // the monitor's zero point: an undrifted batch (here: the training
    // corpus itself) must land EXACTLY on the baseline — any gap would
    // be monitor noise, and operators alert on gaps
    assert(rows("batch") == rows("baseline"), rows.toString)
  }

  test("scoreDrift: a predictable corpus collapses under reversal; p05 tracks the injected low tail") {
    // 40 docs of pure "a b c" cycles: every training transition is
    // near-deterministic (p_cond ~ 1e6), so the per-doc score is
    // P(w2|w1)-carried — the regime where drift is LOUD. Reversing the
    // tokens makes every bigram unseen (training holds a-b/b-c/c-a;
    // reversal yields c-b/b-a/a-c), scoring falls to the 0.1·P(w2)
    // backoff, and the batch mean must collapse well past 3x.
    val docs = (0L until 40L).map(i => (i, "a b c a b c a b c"))
      .toDF("doc_id", "text")
    val d = Files.createTempDirectory("graft_lm_drift_cr").toString
    LmModel.write(spark, docs, d)
    LmModel.writeScoreStats(spark, d, docs)
    val rev = docs.select($"doc_id",
      concat_ws(" ", reverse(split($"text", " "))).as("text"))
    val rows = LmModel.scoreDrift(spark, d, rev)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val (nb, bMean, bP05) = rows("baseline")
    val (nt, tMean, tP05) = rows("batch")
    assert(nb == 40L && nt == 40L)
    assert(tMean * 3 < bMean, s"reversal barely moved the mean: $tMean vs $bMean")
    assert(tP05 * 3 < bP05, s"reversal barely moved the p05: $tP05 vs $bP05")
    // p05 is the LOW-tail rank (ceil(0.05 n)), not a mislabeled p95:
    // poison two docs far below the uniform 38 and p05 must land on the
    // 2nd-lowest score (rank ceil(0.05*40) = 2)
    val poisoned = docs.filter($"doc_id" >= 2L).unionByName(
      Seq((0L, "zq zr zs zt"), (1L, "zq zr zs zt zu")).toDF("doc_id", "text"))
    val pRows = LmModel.scoreDrift(spark, d, poisoned)
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    val perDoc = LmModel.scoreBatch(spark, d, poisoned)
      .select($"mean_ppm").as[Long].collect().sorted
    assert(pRows("batch") == perDoc(1), s"p05 ${pRows("batch")} != 2nd-lowest ${perDoc(1)}")
  }

  test("upgrade invalidates the scorestats baseline: scoreDrift fails loudly until it is rewritten") {
    // the retrained model scores differently, so serving the OLD
    // baseline would alert wrong — upgrade must delete it, and the
    // monitor must fail loudly (missing path), not silently compare
    val d = Files.createTempDirectory("graft_lm_drift_up").toString
    val docs = Tables.documents(spark, sf0001).limit(100).localCheckpoint(true)
    LmModel.write(spark, docs, d)
    LmModel.writeScoreStats(spark, d, docs)
    assert(LmModel.scoreDrift(spark, d, docs).count() == 2L)
    LmModel.upgrade(spark, d,
      Seq((900001L, "fresh upgrade doc")).toDF("doc_id", "text"),
      Seq.empty[(Long, String)].toDF("doc_id", "text"))
    val ex = intercept[Exception] { LmModel.scoreDrift(spark, d, docs).count() }
    assert(ex.getMessage.toLowerCase.contains("path"), ex.getMessage)
    // re-baselining against the upgraded model restores the monitor
    LmModel.writeScoreStats(spark, d, docs)
    assert(LmModel.scoreDrift(spark, d, docs).count() == 2L)
    // write() is the other documented retrain path (the format gate
    // sends pre-meta layouts to it) — an in-place retrain must
    // invalidate the baseline through the same shared tail
    LmModel.write(spark, docs.limit(50), d)
    val ex2 = intercept[Exception] { LmModel.scoreDrift(spark, d, docs).count() }
    assert(ex2.getMessage.toLowerCase.contains("path"), ex2.getMessage)
  }

  test("q207 fixture guard: the reversed slice drifts (unseen bigrams exist; batch sits strictly below baseline)") {
    // the gated fixture's semantic claim, pinned against a testdata
    // regeneration: reversal must keep producing transitions the model
    // never saw, and the monitor must keep reporting the batch BELOW
    // the baseline (the drift direction operators alert on)
    val docs = Tables.documents(spark, sf0001)
    val rev = docs.filter($"doc_id" % 10 === 7).select($"doc_id",
      concat_ws(" ", reverse(split($"text", " "))).as("text"))
    val unseen = LmModel.transitions(rev)
      .join(LmModel.transitions(docs).select($"gram").distinct(),
        Seq("gram"), "left_anti").count()
    assert(unseen > 0, "reversal no longer produces unseen bigrams — q207's backoff branch is dead")
    val rows = LmModel.lmDrift.run(spark, sf0001)
      .collect().map(r => r.getString(0) -> (r.getLong(2), r.getLong(3))).toMap
    assert(rows("batch")._1 < rows("baseline")._1,
      s"batch mean ${rows("batch")._1} not below baseline ${rows("baseline")._1}")
    assert(rows("batch")._2 < rows("baseline")._2,
      s"batch p05 ${rows("batch")._2} not below baseline ${rows("baseline")._2}")
  }

  test("ingestion gate shape: a garbage batch scores far below the corpus median") {
    val corpusScores = LmModel.scoreBatch(spark, dir, Tables.documents(spark, sf0001))
      .select(col("mean_ppm")).as[Long].collect().sorted
    val median = corpusScores(corpusScores.length / 2)
    val garbage = Seq((9100001L, "qqa qqb qqc qqd qqe qqf qqg qqh")).toDF("doc_id", "text")
    val g = LmModel.scoreBatch(spark, dir, garbage).collect()(0).getAs[Long]("mean_ppm")
    assert(g < median / 10, s"garbage scored $g vs corpus median $median")
  }
}
