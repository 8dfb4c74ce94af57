package graft

import graft.ops.{DedupIndex, IngestionGate, LmModel, QualityModel}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The composed streaming ingestion gate (dedup-check → LM-score →
  * append): micro-batched streaming execution must land the exact
  * accepted set and index state the same batches produce through direct
  * batch calls, the crafted rejections must each fire (corpus dup,
  * cross-batch dup, OOV garbage, unscoreable short doc), and a replayed
  * batch must be a no-op on both sinks.
  */
class IngestionGateSpec extends SparkSuite {
  import spark.implicits._

  private def corpus: DataFrame =
    Tables.documents(spark, sf0001).filter(col("doc_id") < 400)

  // distinctive two-token patterns: in-vocab (so the LM scores them
  // well above the floor) but a shingle set no ~56-token corpus doc can
  // minhash-agree with at the 0.5 verification bar
  private val acceptA = Array.fill(6)("spark spark table table").mkString(" ")
  private val acceptB = Array.fill(6)("vector vector hash hash").mkString(" ")

  private def buildSide(base: String, tag: String): IngestionGate.Config = {
    DedupIndex.write(spark, corpus, s"$base/$tag/dix")
    LmModel.write(spark, corpus, s"$base/$tag/lm")
    IngestionGate.Config(s"$base/$tag/dix", s"$base/$tag/lm", s"$base/$tag/accepted")
  }

  private def acceptedIds(cfg: IngestionGate.Config): Set[Long] =
    IngestionGate.accepted(spark, cfg)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet

  private def indexedIds(cfg: IngestionGate.Config): Set[Long] =
    spark.read.parquet(s"${cfg.dedupDir}/sigs")
      .filter(col("doc_id") >= 9000L)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet

  test("the semantic stage rejects an embedding near-dup every lexical stage admits, cross-batch included") {
    val base = Files.createTempDirectory("graft-gate-sem").toString
    DedupIndex.write(spark, corpus, s"$base/dix")
    LmModel.write(spark, corpus, s"$base/lm")
    // corpus vectors: deterministic per-id gaussians, vec_id = doc_id
    def vecOf(seed: Long): Seq[Double] = {
      val r = new scala.util.Random(seed); IndexedSeq.fill(64)(r.nextGaussian())
    }
    val ids = corpus.select(col("doc_id")).collect().map(_.getLong(0)).toSeq
    IngestionGate.writeSemantic(spark,
      ids.map(id => (id, vecOf(id))).toDF("vec_id", "v"), s"$base/sem")
    val cfg = IngestionGate.Config(s"$base/dix", s"$base/lm", s"$base/acc",
      semanticDir = Some(s"$base/sem"))
    // both docs are lexically novel and in-vocab (they pass stages 1-3);
    // the first carries a COPY of a corpus embedding — the paraphrase /
    // re-render case only the semantic stage can see
    val batch = Seq(
      (9800001L, acceptA, vecOf(ids(7))),
      (9800002L, acceptB, vecOf(-999L))
    ).toDF("doc_id", "text", "v")
    // maintain's exact-gate sizing reads the list and store counts from
    // parquet footers: it costs exactly what counting the batch costs
    val store = ops.MetaScalar.open(spark, s"$base/sem/vecs")
    val bv = batch.select(col("doc_id").as("vec_id"), col("v"))
    val (spp, sppJobs) = jobsDuring(IngestionGate.exactShortlist(spark, s"$base/sem", store, bv))
    assert(sppJobs === jobsDuring(bv.count())._2)
    val nLists = spark.read.parquet(s"$base/sem/ann/centroids").count()
    assert(spp === ((store.count() + bv.count() + nLists - 1L) / nLists).toInt)
    def admits(c: IngestionGate.Config, b: DataFrame): Set[Long] =
      IngestionGate.decide(spark, c, b)
        .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(admits(cfg, batch) == Set(9800002L),
      "the semantic stage must reject exactly the embedding near-dup")
    // same batch with stage 4 disabled: both admitted — the rejection
    // above came from the semantic stage alone
    assert(admits(cfg.copy(semanticDir = None), batch) == Set(9800001L, 9800002L),
      "baseline (no semantic stage) admissions changed")
    // cross-batch: the mutating gate appends the admitted doc's vector
    // (frozen-quantizer AnnIndex.append + vector store), so a
    // lexically-novel next-batch doc with a near-identical embedding
    // is rejected against THIS batch's admission
    val landed = IngestionGate.gateBatch(spark, cfg, batch)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(landed == Set(9800002L))
    val batch2 = Seq(
      (9800003L, Array.fill(6)("spark vector spark hash").mkString(" "), vecOf(-999L))
    ).toDF("doc_id", "text", "v")
    assert(admits(cfg, batch2).isEmpty,
      "a semantic dup of a PREVIOUS batch's admission must be rejected")
    // and the missing-column misuse fails loudly at the driver
    val ex = intercept[IllegalArgumentException] {
      IngestionGate.decide(spark, cfg, Seq((1L, acceptA)).toDF("doc_id", "text"))
    }
    assert(ex.getMessage.contains("embedding column"), ex.getMessage)
  }

  test("selfDedup extends to the semantic stage: one representative of an intra-batch paraphrase pair") {
    val base = Files.createTempDirectory("graft-gate-semself").toString
    DedupIndex.write(spark, corpus, s"$base/dix")
    LmModel.write(spark, corpus, s"$base/lm")
    def vecOf(seed: Long): Seq[Double] = {
      val r = new scala.util.Random(seed); IndexedSeq.fill(64)(r.nextGaussian())
    }
    val ids = corpus.select(col("doc_id")).collect().map(_.getLong(0)).toSeq
    IngestionGate.writeSemantic(spark,
      ids.map(id => (id, vecOf(id))).toDF("vec_id", "v"), s"$base/sem")
    val cfg = IngestionGate.Config(s"$base/dix", s"$base/lm", s"$base/acc",
      semanticDir = Some(s"$base/sem"))
    // LEXICALLY distinct (stage 0's LSH self-pass cannot pair them) but
    // embedding-identical and novel against the corpus — the intra-batch
    // paraphrase hole only the semantic self sweep can close
    val batch = Seq(
      (9810001L, acceptA, vecOf(-500L)),
      (9810002L, acceptB, vecOf(-500L))
    ).toDF("doc_id", "text", "v")
    def admits(c: IngestionGate.Config): Set[Long] =
      IngestionGate.decide(spark, c, batch)
        .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    // default contract: cross-batch only — both are admitted
    assert(admits(cfg) == Set(9810001L, 9810002L),
      "default (cross-batch) semantic contract changed")
    // selfDedup: the min-doc_id representative survives, its same-batch
    // paraphrase is swept
    assert(admits(cfg.copy(selfDedup = true)) == Set(9810001L),
      "semantic self-dedup must keep exactly the min-doc_id paraphrase")
  }

  test("monitor() reads all three frozen-model drift monitors as one stage-tagged frame") {
    val base = Files.createTempDirectory("graft-gate-mon").toString
    DedupIndex.write(spark, corpus, s"$base/dix")
    LmModel.write(spark, corpus, s"$base/lm")
    LmModel.writeScoreStats(spark, s"$base/lm", corpus)
    QualityModel.write(spark, corpus, s"$base/qm")
    QualityModel.writeScoreStats(spark, s"$base/qm", corpus)
    def vecOf(seed: Long): Seq[Double] = {
      val r = new scala.util.Random(seed); IndexedSeq.fill(64)(r.nextGaussian())
    }
    val ids = corpus.select(col("doc_id")).collect().map(_.getLong(0)).toSeq
    val vecs = ids.map(id => (id, vecOf(id))).toDF("vec_id", "v")
    IngestionGate.writeSemantic(spark, vecs, s"$base/sem")
    val cfg = IngestionGate.Config(s"$base/dix", s"$base/lm", s"$base/acc",
      qualityDir = Some(s"$base/qm"), semanticDir = Some(s"$base/sem"))
    val undrifted = corpus.select(col("doc_id"), col("text"))
      .join(vecs.withColumnRenamed("vec_id", "doc_id"), Seq("doc_id"))
    def frame(b: org.apache.spark.sql.DataFrame): Map[(String, String), (Long, Long, Long)] =
      IngestionGate.monitor(spark, cfg, b).collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // zero point: the training corpus back through the monitor — every
    // stage's batch row lands EXACTLY on its baseline
    val zero = frame(undrifted)
    assert(zero.keySet == Set("lm", "quality", "semantic")
      .flatMap(s => Set((s, "baseline"), (s, "batch"))), zero.keySet.toString)
    for (st <- Seq("lm", "quality", "semantic"))
      assert(zero((st, "batch")) == zero((st, "baseline")),
        s"$st monitor reported drift on an undrifted batch: $zero")
    // one drifted batch moves every alarm in ITS direction: reversed
    // 5-token prefixes (LM: unseen bigrams -> down; quality: collapsed
    // length/vocabulary features -> down) with affine-scaled vectors
    // (semantic: PQ encode error -> up)
    val drifted = undrifted.select(col("doc_id"),
      concat_ws(" ", reverse(slice(split(col("text"), " "), 1, 5))).as("text"),
      expr("transform(v, x -> x * 1.5d + 0.25d)").as("v"))
    val d = frame(drifted)
    assert(d(("lm", "batch"))._2 < d(("lm", "baseline"))._2, d.toString)
    assert(d(("quality", "batch"))._2 < d(("quality", "baseline"))._2, d.toString)
    assert(d(("semantic", "batch"))._2 > d(("semantic", "baseline"))._2, d.toString)
    // a gate without optional stages reports the LM stage alone
    val lmOnly = IngestionGate.monitor(spark,
      cfg.copy(qualityDir = None, semanticDir = None), undrifted)
      .select(col("stage")).distinct().collect().map(_.getString(0)).toSet
    assert(lmOnly == Set("lm"), lmOnly.toString)
  }

  test("q206's semantic branch strictly prunes the 3-stage admissions and leaves survivors") {
    val a4 = IngestionGate.composedDecide4.run(spark, sf0001)
      .collect().map(_.getLong(0)).toSet
    val a3 = IngestionGate.composedDecide3.run(spark, sf0001)
      .collect().map(_.getLong(0)).filter(_ < 500).toSet
    assert(a4.nonEmpty,
      "4-stage gate admitted nothing at sf0.001 — the fixture went degenerate")
    assert(a4.subsetOf(a3),
      s"stage 4 must only REMOVE docs: ${a4 -- a3} appeared from nowhere")
    assert(a4 != a3,
      "the semantic branch no longer fires at sf0.001 — re-tune q206's τ " +
        "against the regenerated embeddings")
  }

  test("the optional quality stage rejects low scorers that pass dedup and LM") {
    val base = Files.createTempDirectory("graft-gate-q").toString
    DedupIndex.write(spark, corpus, s"$base/dix")
    LmModel.write(spark, corpus, s"$base/lm")
    QualityModel.write(spark, corpus, s"$base/qm")
    val cfg = IngestionGate.Config(s"$base/dix", s"$base/lm", s"$base/acc",
      qualityDir = Some(s"$base/qm"))
    val batch = Seq(
      (9700001L, Array.fill(40)("spark table query data").mkString(" ")), // novel, in-vocab, long
      (9700002L, "spark table") // novel, LM-scoreable, but a low-quality shred
    ).toDF("doc_id", "text")
    def ids(c: IngestionGate.Config) = IngestionGate.decide(spark, c, batch)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(ids(cfg) == Set(9700001L),
      s"quality stage admitted the wrong set: ${ids(cfg)}")
    // same batch with the stage disabled: both docs pass the first two
    // stages — proof the rejection above came from the classifier alone
    assert(ids(cfg.copy(qualityDir = None)) == Set(9700001L, 9700002L),
      "baseline (no quality stage) admissions changed")
  }

  test("selfDedup admits one representative of an intra-batch near-dup pair; default admits both") {
    val base = Files.createTempDirectory("graft-gate-self").toString
    DedupIndex.write(spark, corpus, s"$base/dix")
    LmModel.write(spark, corpus, s"$base/lm")
    val cfg = IngestionGate.Config(s"$base/dix", s"$base/lm", s"$base/acc")
    // two novel docs that are near-dups OF EACH OTHER (identical text →
    // est_jaccard 1.0) but of nothing in the corpus
    val batch = Seq(9800001L -> acceptA, 9800002L -> acceptA, 9800003L -> acceptB)
      .toDF("doc_id", "text")
    def ids(c: IngestionGate.Config) = IngestionGate.decide(spark, c, batch)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    // default contract: cross-batch only — both copies are novel against
    // the index at decision time, both admitted
    assert(ids(cfg) == Set(9800001L, 9800002L, 9800003L),
      s"default (cross-batch) contract changed: ${ids(cfg)}")
    // selfDedup: the batch-self pass keeps the min doc_id of the pair
    assert(ids(cfg.copy(selfDedup = true)) == Set(9800001L, 9800003L),
      s"selfDedup admitted the wrong set: ${ids(cfg.copy(selfDedup = true))}")
  }

  test("persisted decide() is id-identical to the live q161 form, and both rejection branches fire") {
    val base = Files.createTempDirectory("graft-gate-q161").toString
    DedupIndex.write(spark, corpus, s"$base/dix")
    LmModel.write(spark, corpus, s"$base/lm")
    val cfg = IngestionGate.Config(s"$base/dix", s"$base/lm", s"$base/acc",
      maxJaccard = 0.5, minMeanPpm = 32000L)
    val delta = Tables.documents(spark, sf0001).filter(col("doc_id") >= 400)
    val served = IngestionGate.decide(spark, cfg, delta)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val live = IngestionGate.composedDecide.run(spark, sf0001)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(served == live,
      s"persisted gate diverged from the registered q161: ${served -- live} / ${live -- served}")
    // the gate's oracle coverage is only real while BOTH branches bite:
    // some delta docs must fail each check at this SF — if a testdata
    // regeneration collapses either set, q161 silently degrades to a
    // single-stage gate and this pin fails loudly
    val deltaIds = delta.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val rejected = deltaIds -- live
    assert(rejected.nonEmpty, "no delta doc is rejected — the gate filters nothing")
    val dupRejected = ops.DedupIndex.queryBatch(spark, s"$base/dix", delta)
      .filter(col("est_jaccard") >= 0.5)
      .select(col("batch_id")).collect().map(_.getLong(0)).toSet
    assert(dupRejected.nonEmpty, "dup branch fires on no delta doc")
    val lmRejected = rejected -- dupRejected
    assert(lmRejected.nonEmpty, "LM branch fires on no delta doc")
  }

  test("persisted 3-stage decide() is id-identical to the live q167 form; the classifier branch fires") {
    val base = Files.createTempDirectory("graft-gate-q167").toString
    DedupIndex.write(spark, corpus, s"$base/dix")
    LmModel.write(spark, corpus, s"$base/lm")
    QualityModel.write(spark, corpus, s"$base/qm")
    val cfg = IngestionGate.Config(s"$base/dix", s"$base/lm", s"$base/acc",
      maxJaccard = 0.5, minMeanPpm = 32000L,
      qualityDir = Some(s"$base/qm"), minQualityPpm = 500000L)
    val delta = Tables.documents(spark, sf0001).filter(col("doc_id") >= 400)
    val served = IngestionGate.decide(spark, cfg, delta)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val live = IngestionGate.composedDecide3.run(spark, sf0001)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(served == live,
      s"persisted 3-stage gate diverged from q167: ${served -- live} / ${live -- served}")
    // the third stage must reject someone the first two admitted, or
    // q167 is q161 in disguise
    val twoStage = IngestionGate.composedDecide.run(spark, sf0001)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert((twoStage -- live).nonEmpty,
      "classifier stage rejected nobody the LM admitted")
    assert(live.subsetOf(twoStage), "q167 admitted someone q161 rejected")
  }

  test("streaming gate equals the batch pipeline and every crafted rejection fires") {
    val base = Files.createTempDirectory("graft-gate").toString
    val sCfg = buildSide(base, "s") // driven by foreachBatch
    val bCfg = buildSide(base, "b") // driven by direct calls
    val dupText = corpus.filter(size(split(col("text"), " ")) >= 3)
      .orderBy(col("doc_id")).limit(1).collect()(0).getString(1)
    val incoming = Seq(
      9001L -> dupText,                    // b1: exact dup of the corpus -> reject
      9002L -> acceptA,                    // b1: novel, in-vocab -> accept
      9101L -> acceptA,                    // b2: dup of 9002, accepted ONE BATCH EARLIER -> reject
      9102L -> "zzq zzw zze zzr zzt zzy",  // b2: fully OOV, LM mean 0 -> reject
      9103L -> "spark",                    // b2: 1 token, unscoreable -> reject
      9104L -> acceptB                     // b2: novel, in-vocab -> accept
    ).toDF("doc_id", "text").localCheckpoint(true)
    val batches = Seq(Seq(9001L, 9002L), Seq(9101L, 9102L, 9103L, 9104L))
    def slice(ids: Seq[Long]): DataFrame =
      incoming.filter(col("doc_id").isin(ids: _*))

    implicit val sqlCtx = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
    val q = streaming.EventStream.toForeachBatch(
        input.toDF().toDF("in_id"), s"$base/ckpt") { (batch, _) =>
      if (!batch.isEmpty) {
        val ids = batch.collect().map(_.getLong(0)).toSeq
        IngestionGate.gateBatch(spark, sCfg, slice(ids))
        ()
      }
    }
    try {
      batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()

    batches.foreach { ids => IngestionGate.gateBatch(spark, bCfg, slice(ids)) }

    val want = Set(9002L, 9104L)
    assert(acceptedIds(sCfg) == want,
      s"streaming gate admitted the wrong set: ${acceptedIds(sCfg)}")
    assert(acceptedIds(bCfg) == want,
      s"batch pipeline admitted the wrong set: ${acceptedIds(bCfg)}")
    // the index grew by exactly the admitted documents on both sides,
    // which is what made the cross-batch 9101 rejection possible
    assert(indexedIds(sCfg) == want && indexedIds(bCfg) == want,
      s"index state diverged: ${indexedIds(sCfg)} vs ${indexedIds(bCfg)}")

    // at-least-once replay of the second batch: every doc is either
    // already admitted (behind the sigs done-marker) or still rejected,
    // so BOTH sinks stay byte-for-byte put
    val accBefore = IngestionGate.accepted(spark, bCfg).count()
    val sigBefore = spark.read.parquet(s"${bCfg.dedupDir}/sigs").count()
    val replayed = IngestionGate.gateBatch(spark, bCfg, slice(batches(1)))
    assert(replayed.isEmpty, "replay re-admitted documents")
    assert(IngestionGate.accepted(spark, bCfg).count() == accBefore,
      "replay grew the accepted sink")
    assert(spark.read.parquet(s"${bCfg.dedupDir}/sigs").count() == sigBefore,
      "replay grew the dedup index")
  }
}
