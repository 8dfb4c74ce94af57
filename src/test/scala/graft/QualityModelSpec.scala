package graft

import graft.ops.{Curation, QualityModel}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The persisted quality classifier serves q158's exact decisions on
  * the training corpus, scores new batches independently of their
  * batch-mates (training-mean centering), and its keep decision is
  * deterministic.
  */
class QualityModelSpec extends SparkSuite {
  import spark.implicits._

  private lazy val dir: String = {
    val d = Files.createTempDirectory("graft_quality_model").toString
    QualityModel.write(spark, Tables.documents(spark, sf0001), d)
    d
  }

  test("persisted scoreBatch reproduces the live q158 per-source funnel bit-identically") {
    val docs = Tables.documents(spark, sf0001)
    val served = QualityModel.scoreBatch(spark, dir, docs)
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        Det.halfUpDiv(sum(col("score_ppm")), count(lit(1))).as("mean_score_ppm"),
        count(when(col("keep"), 1)).as("n_sampled"))
      .orderBy(col("source"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val live = Curation.qualityWeightedSample.run(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(served.nonEmpty && served.sameElements(live),
      s"persisted funnel diverged:\n got ${served.toSeq}\nwant ${live.toSeq}")
  }

  test("q162 (live incremental scoring) is bit-identical to a persisted write + scoreBatch roundtrip") {
    val docs = Tables.documents(spark, sf0001)
    val live = QualityModel.incrementalQualityScore.run(spark, sf0001)
      .collect().toSeq
    val d2 = Files.createTempDirectory("graft_qm_rt").toString
    QualityModel.write(spark, docs.filter(col("doc_id") < 400), d2)
    val served = QualityModel.scoreBatch(spark, d2, docs.filter(col("doc_id") >= 400))
      .collect().toSeq
    assert(live.nonEmpty && live == served,
      s"persisted roundtrip diverged from q162: ${live.size} vs ${served.size} rows")
  }

  test("a document's score is batch-composition-independent (training-mean centering)") {
    val doc = Seq((9400001L, Array.fill(40)("spark table query data").mkString(" ")))
      .toDF("doc_id", "text")
    val alone = QualityModel.scoreBatch(spark, dir, doc)
      .collect()(0).getAs[Long]("score_ppm")
    val crowd = Seq.tabulate(50)(i => (9500000L + i, "tiny")).toDF("doc_id", "text")
    val together = QualityModel.scoreBatch(spark, dir, doc.unionAll(crowd))
      .filter(col("doc_id") === 9400001L).collect()(0).getAs[Long]("score_ppm")
    assert(alone == together,
      s"score moved with batch composition: $alone vs $together — centering leaked onto the batch")
  }

  test("scoreDrift: training docs reproduce the baseline bit-for-bit; a truncated batch lands below it") {
    val docs = Tables.documents(spark, sf0001)
    QualityModel.writeScoreStats(spark, dir, docs)
    // zero point: an undrifted batch (the training corpus itself) must
    // land EXACTLY on the baseline — any gap is monitor noise
    val same = QualityModel.scoreDrift(spark, dir, docs)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(same("batch") == same("baseline"), same.toString)
    // q208's fixture guard, pinned against a testdata regeneration: the
    // 5-token truncation must keep collapsing the length/vocabulary
    // features, so the batch's distribution sits strictly below
    val trunc = docs.filter($"doc_id" % 10 === 7).select($"doc_id",
      concat_ws(" ", slice(split($"text", " "), 1, 5)).as("text"))
    val rows = QualityModel.scoreDrift(spark, dir, trunc)
      .collect().map(r => r.getString(0) -> (r.getLong(2), r.getLong(3))).toMap
    assert(rows("batch")._1 < rows("baseline")._1,
      s"batch mean ${rows("batch")._1} not below baseline ${rows("baseline")._1}")
    assert(rows("batch")._2 < rows("baseline")._2,
      s"batch p05 ${rows("batch")._2} not below baseline ${rows("baseline")._2}")
  }

  test("retrain-in-place invalidates the scorestats baseline: scoreDrift fails loudly until it is rewritten") {
    // write() only rewrites model/ — without the delete, an in-place
    // retrain would leave scoreDrift silently comparing new-model batch
    // scores against the OLD model's baseline (alert wrong, not fail
    // loudly — the hazard LmModel.writeTables closes for the LM)
    val d = Files.createTempDirectory("graft_qm_retrain").toString
    val docs = Tables.documents(spark, sf0001).limit(100).localCheckpoint(true)
    QualityModel.write(spark, docs, d)
    QualityModel.writeScoreStats(spark, d, docs)
    assert(QualityModel.scoreDrift(spark, d, docs).count() == 2L)
    QualityModel.write(spark, docs.limit(50), d)
    val ex = intercept[Exception] { QualityModel.scoreDrift(spark, d, docs).count() }
    assert(ex.getMessage.toLowerCase.contains("path"), ex.getMessage)
    // re-baselining against the retrained model restores the monitor
    QualityModel.writeScoreStats(spark, d, docs)
    assert(QualityModel.scoreDrift(spark, d, docs).count() == 2L)
  }

  test("the learned model separates long from short documents and keep is deterministic") {
    val batch = Seq(
      (9600001L, Array.fill(40)("spark table query data").mkString(" ")), // long, high quality label
      (9600002L, "tiny doc")                                              // short
    ).toDF("doc_id", "text")
    val got = QualityModel.scoreBatch(spark, dir, batch)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(got(9600001L)._1 > got(9600002L)._1,
      s"long doc did not outscore short doc: $got")
    val again = QualityModel.scoreBatch(spark, dir, batch)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(got == again, "keep decision not deterministic across runs")
  }
}
