package graft.ops

import graft.{Det, Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PERSISTED linear quality classifier — q157/q158's trained scorer in
  * servable form, completing the persisted-model family ([[AnnIndex]],
  * [[TextIndex]], [[DedupIndex]], [[LmModel]]): train once on the
  * released corpus, then score any later ingestion batch at projection
  * cost — no feature-table rebuild, no gradient replays, no corpus.
  *
  * Model layout under `dir`: `model/` is ONE row —
  * (w1, w2, w3, wb, m1, m2, m3, n) — the trained micro-unit weights
  * PLUS the training-corpus feature means. The means are part of the
  * model, not of the batch: a served document is centered with the
  * means the weights were trained against, so its score is a property
  * of the document and the model alone — batch-composition-independent
  * (QualityModelSpec pins a document's score equal when scored alone
  * and alongside arbitrary batch-mates, the property a
  * center-on-the-batch implementation would break).
  *
  * All arithmetic is the ONE q157/q158 recipe
  * ([[Curation.lqcRawFeatures]]/[[Curation.lqcSig]] — exact
  * micro-unit integers, hard sigmoid), so the spec pins the persisted
  * [[scoreBatch]]'s per-source funnel BIT-IDENTICAL to the live q158 on
  * the training corpus. The keep decision is q158's deterministic
  * md5-hash threshold (keep-rate = score/2), reproducible under reruns
  * and repartitioning.
  *
  * 100 TB shape: training is 1 flat feature projection + 4 bounded-read
  * scans (the q157 cost, paid once per release); the model row is ~64
  * bytes — a literal at serve time, not even a broadcast. Scoring a
  * batch is one codegen'd projection of the batch. Like [[LmModel]],
  * the model is an immutable per-release snapshot — quality models
  * version, they don't mutate.
  */
object QualityModel {

  private val Micro = 1000000L

  /** Train on `docs(doc_id, text, …)` and persist under `dir`.
    * Overwrites.
    */
  def write(s: SparkSession, docs: DataFrame, dir: String): Unit = graft.Jobs.labeled(s, "quality-model: write") {
    graft.Reliable.scoped {
      // a retrain-in-place only overwrites $dir/model, so any persisted
      // scorestats baseline would survive describing the PREVIOUS model's
      // score distribution — [[scoreDrift]] would then alert wrong instead
      // of failing loudly. Delete it (LmModel.writeTables' contract); the
      // operator re-runs [[writeScoreStats]] after each retrain.
      val ss = new org.apache.hadoop.fs.Path(s"$dir/scorestats")
      ss.getFileSystem(s.sparkContext.hadoopConfiguration).delete(ss, true)
      val raw = graft.Reliable.owned(Curation.lqcRawFeatures(docs))
      val (nL, mus) = Curation.lqcMeans(raw)
      val x = raw.select(col("y"),
        (col("r1") - mus(0)).as("f1"), (col("r2") - mus(1)).as("f2"),
        (col("r3") - mus(2)).as("f3"))
      val w = Curation.lqcTrain(x, nL)
      import s.implicits._
      Seq((w(0), w(1), w(2), w(3), mus(0), mus(1), mus(2), nL))
        .toDF("w1", "w2", "w3", "wb", "m1", "m2", "m3", "n")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/model")
    }
  }

  /** Score `docs(doc_id, text, …)` against the persisted model:
    * (doc_id, score_ppm, keep) in total order. One projection over the
    * batch — the 1-row model is read on the driver (from its footer
    * statistics, no job) and inlined as literals, so the scoring plan
    * has no join at all. `keep` is q158's score-proportional
    * deterministic sample decision (keep-rate = score/2).
    */
  def scoreBatch(s: SparkSession, dir: String, docs: DataFrame): DataFrame = graft.Jobs.labeled(s, "quality-model: scoreBatch") {
    // the 1-row model from its footer statistics (no job), else collected
    val m = MetaScalar.scalarLongs(s, s"$dir/model", "w1", "w2", "w3", "wb", "m1", "m2", "m3")
      .getOrElse {
        val r = MetaScalar.open(s, s"$dir/model").collect()(0)
        (0 until 7).map(r.getLong)
      }
    val w = m.take(4).toArray
    val mus = m.drop(4).toArray
    val centered = Curation.lqcRawFeatures(docs).select(col("doc_id"),
      (col("r1") - mus(0)).as("f1"), (col("r2") - mus(1)).as("f2"),
      (col("r3") - mus(2)).as("f3"))
    centered
      .select(col("doc_id"), Curation.lqcSig(w).as("score_ppm"),
        expr("CAST(conv(substr(md5(CAST(doc_id AS STRING)), 25, 7), 16, 10) AS BIGINT) % 1000000")
          .as("hv"))
      .select(col("doc_id"), col("score_ppm"),
        (col("hv") < Det.halfUpDiv(col("score_ppm"), lit(2L))).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** The persisted-classifier SERVE semantics under the hard gate —
    * q159/q153's pattern for the quality model: train on the existing
    * corpus (doc_id < 400), score the arriving delta (doc_id ≥ 400)
    * with the TRAINING means and weights, emit q158's keep decision.
    * This puts the training-mean centering — the property that makes a
    * served score batch-composition-independent — inside the oracle:
    * the oracle centers the delta's raw features with `mu` computed
    * over the TRAINING corpus only, exactly as [[scoreBatch]] does with
    * the persisted means. QualityModelSpec pins a write + scoreBatch
    * roundtrip bit-identical to this live form.
    */
  val incrementalQualityScore = Q(
    "q162_incremental_quality_score",
    (Curation.lqcOraclePrefix(
      "(SELECT * FROM documents WHERE doc_id < 400)") + {
      val (r1s, r2s, r3s) = Curation.lqcRawSql
      s""",
      |braw AS (
      |  SELECT doc_id,
      |    $r1s AS r1,
      |    $r2s AS r2,
      |    $r3s AS r3
      |  FROM documents WHERE doc_id >= 400),
      |bx AS (SELECT doc_id, r1 - m1 AS f1, r2 - m2 AS f2, r3 - m3 AS f3
      |       FROM braw CROSS JOIN mu),
      |scj AS (SELECT doc_id, (${Curation.SigSql}) AS score_ppm,
      |         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 25, 7))::BIGINT
      |           % 1000000 AS hv
      |        FROM bx CROSS JOIN w3t)
      |SELECT doc_id, CAST(score_ppm AS BIGINT) AS score_ppm,
      |  hv < ${Tokenization.hudSql("score_ppm", "2")} AS keep
      |FROM scj ORDER BY doc_id""" }).stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val raw = Curation.lqcRawFeatures(docs.filter(col("doc_id") < 400))
      .localCheckpoint()
    val (nL, mus) = Curation.lqcMeans(raw)
    val x = raw.select(col("y"),
      (col("r1") - mus(0)).as("f1"), (col("r2") - mus(1)).as("f2"),
      (col("r3") - mus(2)).as("f3"))
    val w = Curation.lqcTrain(x, nL)
    Curation.lqcRawFeatures(docs.filter(col("doc_id") >= 400))
      .select(col("doc_id"),
        (col("r1") - mus(0)).as("f1"), (col("r2") - mus(1)).as("f2"),
        (col("r3") - mus(2)).as("f3"))
      .select(col("doc_id"), Curation.lqcSig(w).as("score_ppm"),
        expr("CAST(conv(substr(md5(CAST(doc_id AS STRING)), 25, 7), 16, 10) AS BIGINT) % 1000000")
          .as("hv"))
      .select(col("doc_id"), col("score_ppm"),
        (col("hv") < Det.halfUpDiv(col("score_ppm"), lit(2L))).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** Persist the classifier's score-distribution BASELINE
    * (`scorestats/`, 1 row) — the training-time half of [[scoreDrift]],
    * [[LmModel.writeScoreStats]]'s contract verbatim: opt-in (training
    * proper is 4 bounded-read scans and stays that way) and sampleable
    * at corpus scale. A re-[[write]] DELETES any persisted baseline (it
    * only rewrites `model/`, so the old `scorestats/` would otherwise
    * survive and describe a model that no longer exists) — re-run this
    * after each retrain, exactly the [[LmModel]] discipline.
    */
  def writeScoreStats(s: SparkSession, dir: String, docs: DataFrame): Unit =
    scoreStats(s, dir, docs)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/scorestats")

  private def scoreStats(s: SparkSession, dir: String, docs: DataFrame): DataFrame =
    DriftStats.stats(scoreBatch(s, dir, docs), col("score_ppm"),
      col("doc_id"), 5, "n_docs", "mean_score_ppm", "p05_score_ppm")

  /** CLASSIFIER-DRIFT MONITOR — the third member of the frozen-model
    * monitor family ([[AnnIndex.quantizationDrift]] q204,
    * [[LmModel.scoreDrift]] q207): the persisted classifier scores
    * every batch with frozen weights AND frozen training means, so a
    * corpus whose raw feature distribution shifts (document lengths,
    * vocabulary density) is centered against means that no longer
    * describe it — the keep-rate silently drifts with it. This reports
    * an incoming batch's score distribution (n_docs, half-up mean,
    * exact rank-selected p05 of score_ppm — the LOW tail: degraded
    * corpora score down) next to the persisted training-time baseline,
    * at one batch projection + a 1-row read. Output: one row per side,
    * ('baseline' | 'batch', n_docs, mean_score_ppm, p05_score_ppm).
    * Oracle-gated as q208 on a truncation-drifted fixture.
    */
  def scoreDrift(s: SparkSession, dir: String, batch: DataFrame): DataFrame = {
    val cols = Seq(col("side"), col("n_docs"), col("mean_score_ppm"),
      col("p05_score_ppm"))
    MetaScalar.open(s, s"$dir/scorestats").withColumn("side", lit("baseline"))
      .select(cols: _*)
      .unionByName(scoreStats(s, dir, batch)
        .withColumn("side", lit("batch")).select(cols: _*))
  }

  /** One persisted full-corpus classifier (+ scorestats baseline) per
    * (session, corpus) — the [[LmModel]] sharing pattern. */
  private def sharedQmDir(s: SparkSession, d: String): String = {
    import s.implicits._
    graft.Shared.materialized(s, s"qmodel-full-$d") {
      val tmp = graft.TempDirs.create("graft-qmdrift")
      val docs = Tables.documents(s, d).localCheckpoint()
      write(s, docs, tmp)
      writeScoreStats(s, tmp, docs)
      Seq(tmp).toDF("dir")
    }.collect()(0).getString(0)
  }

  /** [[scoreDrift]] under the hard gate: the classifier is trained +
    * persisted over the full documents table (baseline = the training
    * docs' scores through [[writeScoreStats]]), and the monitored batch
    * is the doc_id % 10 = 7 slice TRUNCATED to its first 5 tokens — the
    * fragment/boilerplate shape a degraded crawl ingests: token count
    * and vocabulary density collapse, the frozen means center the
    * batch far off-distribution, and its scores land below the
    * baseline. The oracle replays everything from the raw documents
    * table — integer GD training, hard-sigmoid scoring of the training
    * corpus AND the truncated batch with the TRAINING means, half-up
    * means, exact rank-selected p05s — and never sees the persisted
    * model, so a stale baseline, a drifted weight roundtrip, or
    * batch-side mean contamination all surface as a hash mismatch.
    */
  val qualityDrift = Q(
    "q208_quality_drift",
    (Curation.lqcOraclePrefix("documents") + {
      val (r1s, r2s, r3s) = Curation.lqcRawSql
      s""",
      |bsc AS (SELECT doc_id, (${Curation.SigSql}) AS score_ppm
      |        FROM x CROSS JOIN w3t),
      |bs AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
      |         CAST((2 * SUM(score_ppm) + COUNT(*)) // (2 * COUNT(*)) AS BIGINT)
      |           AS mean_score_ppm
      |       FROM bsc),
      |bp AS (SELECT CAST(score_ppm AS BIGINT) AS p05_score_ppm FROM (
      |         SELECT score_ppm, ROW_NUMBER() OVER (ORDER BY score_ppm, doc_id) AS rnk,
      |           COUNT(*) OVER () AS n FROM bsc)
      |       WHERE rnk = (5 * n + 99) // 100),
      |tdoc AS (SELECT doc_id, t AS text, len(t) AS n_chars FROM (
      |           SELECT doc_id,
      |             array_to_string(list_slice(string_split(text, ' '), 1, 5), ' ') AS t
      |           FROM documents WHERE doc_id % 10 = 7)),
      |traw AS (
      |  SELECT doc_id,
      |    $r1s AS r1,
      |    $r2s AS r2,
      |    $r3s AS r3
      |  FROM tdoc),
      |tx AS (SELECT doc_id, r1 - m1 AS f1, r2 - m2 AS f2, r3 - m3 AS f3
      |       FROM traw CROSS JOIN mu),
      |tsc AS (SELECT doc_id, (${Curation.SigSql}) AS score_ppm
      |        FROM tx CROSS JOIN w3t),
      |ts AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
      |         CAST((2 * SUM(score_ppm) + COUNT(*)) // (2 * COUNT(*)) AS BIGINT)
      |           AS mean_score_ppm
      |       FROM tsc),
      |tp AS (SELECT CAST(score_ppm AS BIGINT) AS p05_score_ppm FROM (
      |         SELECT score_ppm, ROW_NUMBER() OVER (ORDER BY score_ppm, doc_id) AS rnk,
      |           COUNT(*) OVER () AS n FROM tsc)
      |       WHERE rnk = (5 * n + 99) // 100)
      |SELECT side, n_docs, mean_score_ppm, p05_score_ppm FROM (
      |  SELECT 'baseline' AS side, bs.n_docs, bs.mean_score_ppm, bp.p05_score_ppm
      |  FROM bs, bp
      |  UNION ALL
      |  SELECT 'batch' AS side, ts.n_docs, ts.mean_score_ppm, tp.p05_score_ppm
      |  FROM ts, tp)
      |ORDER BY side""" }).stripMargin) { (s, d) =>
    val dir = sharedQmDir(s, d)
    val batch = Tables.documents(s, d).filter(col("doc_id") % 10 === 7)
      .select(col("doc_id"),
        concat_ws(" ", slice(split(col("text"), " "), 1, 5)).as("text"))
    scoreDrift(s, dir, batch).orderBy(col("side"))
  }

  def specs: Seq[Q] = Seq(incrementalQualityScore, qualityDrift)
}
