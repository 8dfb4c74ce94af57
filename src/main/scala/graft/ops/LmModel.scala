package graft.ops

import graft.{Det, Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PERSISTED bigram language model — the servable form of q154's
  * corpus-trained scorer and the fourth member of the persisted-index
  * family ([[AnnIndex]], [[TextIndex]], [[DedupIndex]]): train once on
  * the released corpus, then score every later ingestion batch in
  * O(batch) — batch transitions join the stored (vocab-sized) tables,
  * the corpus is never re-scanned.
  *
  * Model layout under `dir` (plain parquet, all content-diversity
  * sized). Each table carries BOTH the exact counts and the baked ppm
  * probabilities — the counts are what make [[upgrade]] exact (they
  * are additive; the probabilities are not, since the token total `n`
  * touches every row), and the baked ppm columns are what keep
  * [[scoreBatch]] a two-join read (parquet column pruning skips the
  * count pages at serve time):
  *  - `bigrams/`  (gram, c12, p_cond, p_uni), partitioned by `bkt =
  *    pmod(xxhash64(gram), buckets)` with a MODEL-SIZED bucket count
  *    ([[Tombstones.bucketsFor]], persisted in `meta/`) — λ-interpolation inputs
  *    precomputed in exact ppm integers (q154's `bie`).
  *  - `unigrams/` (w, c, p_uni), partitioned by `bkt = pmod(
  *    xxhash64(w), buckets)` — the unigram backoff: a transition whose
  *    bigram was never seen in training scores (1−λ)·P(w2) — real LM
  *    backoff behavior, not a silent zero; a w2 outside the training
  *    vocabulary scores 0 (maximally surprising).
  *  - `total/`    (n) — one row, the corpus token count.
  *  - `meta/`     (buckets) — the persisted bucket count.
  * This is the only layout served: [[scoreBatch]] and [[upgrade]]
  * refuse a directory without `meta/` ([[Tombstones.readBuckets]]),
  * which predates the current format and must be retrained with
  * [[write]].
  *
  * The arithmetic is the ONE q154 recipe ([[Det.halfUpDiv]] ppm
  * integers, λ = 0.9), so LmModelSpec can pin saved-model
  * [[scoreBatch]] BIT-IDENTICAL to the live q154 values on in-corpus
  * documents — an index built yesterday and a batch scored today
  * cannot disagree on smoothing or interpolation.
  *
  * 100 TB shape: training is q154's build side only (two corpus scans
  * into vocab-sized aggregates — the per-doc instance join never runs).
  * The model tables grow with CONTENT DIVERSITY — for a web-scale
  * corpus distinct bigrams are far past any broadcast threshold — so
  * the serve path must NOT assume they broadcast. [[scoreBatch]]
  * therefore reads them through gram-hash PARTITION pruning (the
  * [[TextIndex]] recipe): the batch's transitions name their
  * bucket set, each model read opens only those directories, and the
  * join strategy is left to AQE — broadcast when the pruned slice is
  * small (every tested scale), shuffled hash when it is not, never a
  * pinned-hint OOM.
  *
  * Corpus releases: [[upgrade]] merges delta counts (subtract the
  * removed docs', add the added docs') by exact long addition, drops
  * zero rows, and re-derives the baked ppm columns from the merged
  * counts, so the upgraded model is BIT-IDENTICAL to a fresh train
  * over the new corpus (ReleaseSpec pins table and serve equality).
  * Cost is one delta tokenization plus a model-table-sized
  * merge/re-enrich/rewrite — it saves the two full-corpus scans a
  * retrain pays, the dominant term whenever the corpus dwarfs its
  * distinct-bigram table (any natural corpus at scale).
  */
object LmModel {

  private val Micro = 1000000L

  /** Target distinct bigrams per gram-hash bucket — coarse enough that
    * a corpus-scale build writes large files per bucket, fine enough
    * that a small batch's gram set prunes most of a diversity-sized
    * model before any file is opened. The model grows with content
    * DIVERSITY (verbatim copies add nothing), so the sizing driver is
    * the bigram-table row count, not the corpus: ~1M bigram rows ≈
    * ~20 MB per bucket directory (measured 18.1 MB for 931k rows,
    * BENCH.md round 10). The floor binds below ~64M distinct bigrams;
    * a web-scale vocabulary past it gets proportionally more buckets so
    * a batch's pruned model read stays byte-bounded. The HIGH floor is
    * measurement-backed, not caution: over-bucketing the largest
    * locally-buildable model (931k bigrams at 256 buckets,
    * BENCH.md round 11) cost 2.3x on build AND 2.2x on serve —
    * a scoring batch's grams hash into nearly every bucket, so below
    * the bytes-per-bucket knee extra directories are pure overhead on
    * both sides. The sized count is decided at [[write]] (and
    * re-derived at [[upgrade]], which rewrites every row anyway).
    */
  private[graft] val GramsPerBucket = 1000000L

  private def bktOf(c: Column, nB: Int): Column =
    pmod(xxhash64(c), lit(nB.toLong)).cast("int")

  /** Distinct partition buckets of the batch's grams and w2 tokens under
    * the SAME xxhash64 expression the write side uses — one job with no
    * exchange, and the two sets are collected SEPARATELY (each ≤ nB ≤
    * 4096 rows per partition): collecting distinct (bg, bw) PAIRS would
    * be nB²-bounded, a driver hazard once the count is model-sized.
    */
  private def bucketsOf(trans: DataFrame, nB: Int): (Seq[Int], Seq[Int]) = {
    val rows = graft.Jobs.distinctRows(
      trans.select(bktOf(col("gram"), nB).as("b"), lit(0).as("side"))
        .unionByName(trans.select(bktOf(col("w2"), nB).as("b"), lit(1).as("side"))))
    (rows.filter(_.getInt(1) == 0).map(_.getInt(0)),
      rows.filter(_.getInt(1) == 1).map(_.getInt(0)))
  }

  /** The corpus transition stream: codegen'd 2-grams ("w1 w2") —
    * unambiguous since split-on-space tokens cannot contain the
    * separator. ONE definition shared with the live q154 scorer.
    */
  private[graft] def transitions(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      explode(graft.functions.NGrams.ngrams(split(col("text"), " "), 2)).as("gram"))

  /** The corpus count tables — (bigram counts, unigram counts with
    * their corpus scan checkpointed). ONE tokenization shared by
    * training, [[upgrade]]'s delta sides, and (through [[modelTables]])
    * the live q154 scorer.
    */
  private def countTables(docs0: DataFrame): (DataFrame, DataFrame) = {
    // spread a skinny scan/checkpoint input before tokenizing (round 19)
    val docs = graft.Spread.lazyAuto(docs0)
    // feeds both marginal joins + the total, once
    val uni = graft.Reliable.owned(docs.select(explode(split(col("text"), " ")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c")))
    val bi = transitions(docs)
      .groupBy(col("gram")).agg(count(lit(1)).as("c12"))
    (bi, uni)
  }

  /** Enrich bigram counts into (gram, c12, p_cond ppm, p_uni ppm) by
    * joining the unigram marginals — the ONE place the interpolation
    * inputs are derived, shared by the live [[modelTables]], [[write]]
    * and [[upgrade]], so a smoothing edit cannot desynchronize them.
    */
  private def enrich(bi: DataFrame, uni: DataFrame, tot: DataFrame): DataFrame =
    bi.withColumn("w1", split(col("gram"), " ").getItem(0))
      .withColumn("w2", split(col("gram"), " ").getItem(1))
      .join(uni.select(col("w").as("w1"), col("c").as("c1")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("c").as("c2")), Seq("w2"))
      .crossJoin(broadcast(tot))
      .select(col("gram"), col("c12"),
        Det.halfUpDiv(col("c12") * Micro, col("c1")).as("p_cond"),
        Det.halfUpDiv(col("c2") * Micro, col("n")).as("p_uni"))

  /** The trained model tables in the live q154 scorer's shape —
    * (enriched bigram table, unigram count table, 1-row total). Shared
    * by the registered q154/q159 queries; [[write]] persists the same
    * derivation.
    */
  private[ops] def modelTables(docs: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val (bi, uni) = countTables(docs)
    val tot = uni.agg(coalesce(sum(col("c")), lit(0L)).as("n"))
    (enrich(bi, uni, tot).drop("c12"), uni, tot)
  }

  /** The unigram table in its persisted serve form: (w, p_uni ppm). */
  private[ops] def unigramP(uni: DataFrame, tot: DataFrame): DataFrame =
    uni.crossJoin(broadcast(tot))
      .select(col("w"), Det.halfUpDiv(col("c") * Micro, col("n")).as("p_uni"))

  /** Persist the count + baked tables derived from (bi, uni) counts —
    * shared tail of [[write]] and [[upgrade]].
    */
  private def writeTables(s: SparkSession, dir: String, bi: DataFrame,
      uni: DataFrame, nB: Int): Unit = {
    // EVERY model rewrite — fresh [[write]] over an existing layout or a
    // count-algebra [[upgrade]] — produces tables that score differently,
    // so a persisted scorestats baseline no longer describes this model's
    // score distribution. DELETE it here, in the one shared tail, rather
    // than leave [[scoreDrift]] comparing batches against the PREVIOUS
    // model (a stale baseline must fail loudly, not alert wrong; re-run
    // [[writeScoreStats]] after any rewrite). Contrast AnnIndex: its
    // upgrades keep the FROZEN v1 codebook, so the v1 quantstats baseline
    // stays exactly the distribution ADC serves against and is retained.
    val ss = new org.apache.hadoop.fs.Path(s"$dir/scorestats")
    ss.getFileSystem(s.sparkContext.hadoopConfiguration).delete(ss, true)
    Tombstones.writeMeta(s, dir, nB)
    val tot = uni.agg(coalesce(sum(col("c")), lit(0L)).as("n"))
    // repartition by the partition column before the dynamic-partitioned
    // writes (round 18, guide §6): one file per bucket, not tasks x buckets.
    // The three tables are independent writes and run side by side.
    graft.Jobs.concurrently(s)(
      () => Layout.writeBucketed(enrich(bi, uni, tot).withColumn("bkt", bktOf(col("gram"), nB)),
        "bkt", "overwrite", s"$dir/bigrams"),
      () => Layout.writeBucketed(uni.crossJoin(broadcast(tot))
        .select(col("w"), col("c"),
          Det.halfUpDiv(col("c") * Micro, col("n")).as("p_uni"))
        .withColumn("bkt", bktOf(col("w"), nB)), "bkt", "overwrite", s"$dir/unigrams"),
      () => tot.coalesce(1).write.mode("overwrite").parquet(s"$dir/total"))
  }

  /** Train on `docs` and persist under `dir`, gram-hash partitioned
    * with a model-sized bucket count ([[Tombstones.bucketsFor]]) so [[scoreBatch]]
    * prunes before it reads. Overwrites. The bigram table is
    * checkpointed (model-table-sized) so the sizing count and the write
    * share one corpus aggregation.
    */
  def write(s: SparkSession, docs: DataFrame, dir: String,
      bucketsOverride: Option[Int] = None): Unit = graft.Jobs.labeled(s, "lm-model: write") {
    graft.Reliable.scoped {
      val (bi0, uni) = countTables(docs)
      val bi = graft.Reliable.owned(bi0)
      writeTables(s, dir, bi, uni, bucketsOverride.getOrElse(
        Tombstones.bucketsFor(bi.count(), GramsPerBucket)))
    }
  }

  /** Roll the persisted model to a corpus release by exact count
    * algebra: subtract `removeDocs`' transition/token counts, add
    * `addDocs`', drop rows whose count reaches zero (a dropped bigram
    * scores through backoff again; a dropped unigram is OOV again —
    * exactly a fresh train's behavior), then re-derive the baked ppm
    * columns from the merged counts. The merge reads and rewrites the
    * model tables once (model-table-sized I/O, never the corpus) —
    * [[Release.upgradeLmModel]] measures this against a fresh retrain.
    */
  def upgrade(s: SparkSession, dir: String, addDocs: DataFrame,
      removeDocs: DataFrame): Unit = graft.Reliable.scoped {
    Tombstones.readBuckets(s, dir) // the format gate
    def delta(docs: DataFrame, sign: Int): (DataFrame, DataFrame) = {
      val (bi, uni) = countTables(docs)
      (bi.select(col("gram"), (col("c12") * sign).as("c12")),
        uni.select(col("w"), (col("c") * sign).as("c")))
    }
    val (addBi, addUni) = delta(addDocs, 1)
    val (remBi, remUni) = delta(removeDocs, -1)
    val bi = graft.Reliable.owned(MetaScalar.open(s, s"$dir/bigrams").select(col("gram"), col("c12"))
      .unionByName(addBi).unionByName(remBi)
      .groupBy(col("gram")).agg(sum(col("c12")).as("c12"))
      .filter(col("c12") > 0))
    val uni = graft.Reliable.owned(MetaScalar.open(s, s"$dir/unigrams").select(col("w"), col("c"))
      .unionByName(addUni).unionByName(remUni)
      .groupBy(col("w")).agg(sum(col("c")).as("c"))
      .filter(col("c") > 0))
    // re-derive the sized count from the MERGED table — the rewrite is
    // total anyway, so a model that grew across releases keeps its
    // bytes-per-bucket bound instead of inheriting v1's count forever
    // writeTables' shared tail also deletes any scorestats baseline —
    // the upgrade retrains the probabilities, so the old distribution
    // would alert wrong (re-run [[writeScoreStats]] after the roll)
    writeTables(s, dir, bi, uni, Tombstones.bucketsFor(bi.count(), GramsPerBucket))
  }

  /** Score a document batch against the persisted model: q154's output
    * shape (n_trans, rarest_ppm, mean_ppm per doc), with unigram
    * backoff for transitions unseen in training. Cost is O(batch +
    * pruned model slice): one batch transition pass (checkpointed — the
    * batch is read once), bucket-pruned model scans reading only the
    * baked ppm columns (column pruning skips the count pages),
    * AQE-chosen joins.
    */
  def scoreBatch(s: SparkSession, dir: String, docs: DataFrame): DataFrame = graft.Jobs.labeled(s, "lm-model: scoreBatch") {
    val nB = Tombstones.readBuckets(s, dir) // the format gate
    // batch-sized; feeds bucket discovery + the score join
    val t = graft.Reliable.owned(transitions(graft.Spread.batch(docs))
      .withColumn("w2", split(col("gram"), " ").getItem(1)))
    val (bg, bw) = bucketsOf(t, nB)
    def pruned(table: String, bkts: Seq[Int]): DataFrame =
      MetaScalar.open(s, s"$dir/$table").filter(col("bkt").isin(bkts: _*))
    val bie = pruned("bigrams", bg).select(col("gram"), col("p_cond"), col("p_uni"))
    val uniP = pruned("unigrams", bw).select(col("w"), col("p_uni"))
    scoreTransitions(bie, uniP, t)
  }

  /** The serve-time scoring join against model tables in their persisted
    * shapes — ONE definition used by [[scoreBatch]] (parquet-backed) and
    * the registered q159 (in-memory tables), so the hard gate exercises
    * the identical join the persisted path serves. No broadcast hint:
    * the model tables are diversity-sized (unbounded at 100 TB), so the
    * strategy is AQE's call — broadcast when the (bucket-pruned) slice
    * is small, shuffled hash join when it is not.
    */
  private[ops] def scoreAgainst(bie: DataFrame, uniP: DataFrame,
      docs: DataFrame): DataFrame =
    scoreTransitions(bie, uniP,
      transitions(docs).withColumn("w2", split(col("gram"), " ").getItem(1)))

  /** The LM count algebra under the hard gate — q153/q159's pattern for
    * the release upgrade: the Spark side rolls a v1-trained model to v2
    * through the EXACT recipe [[upgrade]] runs (v1 counts, plus the
    * added∪changed docs' counts, minus the removed∪changed docs' OLD
    * counts via `Release.delta`'s digest classes, zero rows dropped,
    * probabilities re-derived with [[enrich]]), while the ORACLE trains
    * directly on v2 — an independent implementation that never sees the
    * algebra. Hash equality on a probe mixing revised, surviving, and
    * REMOVED-doc text (whose grams may have left the model — the
    * subtraction branch) proves upgrade ≡ fresh-train end to end.
    * ReleaseSpec pins the persisted write → upgrade → scoreBatch
    * roundtrip set- and bit-identical to this algebra.
    *
    * Fixture: every doc's text carries a doc-unique suffix token
    * (" t<doc_id>") — WITHOUT it, the testdata's shared vocabulary
    * keeps every removed doc's gram alive in some survivor at every SF
    * (measured: dropped-gram count 0), and the subtraction's
    * zero-row-drop branch would never fire. With it, each removed doc
    * contributes grams only it holds, so the upgrade MUST drop rows to
    * match the oracle. v1 = suffixed docs without doc_id%17=5; v2 =
    * suffixed docs without doc_id%19=3, prefixed "rev " when
    * doc_id%13=0 — added/changed/removed all non-empty at every SF.
    */
  /** Distribution stats over a scored batch's per-doc `mean_ppm` — one
    * row: (n_docs, half-up mean, exact rank-selected p05). p05, not
    * p95: LM drift moves scores DOWN (a shifted corpus has transitions
    * the model never saw, so backoff fires and probabilities fall), so
    * the alarm tail is the LOW end. The [[DriftStats]] kernel — the
    * same exact-rank arithmetic q204/q208 serve.
    */
  private def docStats(scored: DataFrame): DataFrame =
    DriftStats.stats(scored, col("mean_ppm"), col("doc_id"), 5,
      "n_docs", "mean_doc_ppm", "p05_doc_ppm")

  /** Persist the model's score-distribution BASELINE (`scorestats/`,
    * 1 row) — the training-time half of [[scoreDrift]]. Deliberately a
    * SEPARATE opt-in step from [[write]]: training proper never runs
    * the per-doc instance join (the object doc's 100 TB contract), and
    * the baseline only needs a REPRESENTATIVE score distribution — at
    * corpus scale the operator passes a deterministic hash-sample of
    * the training docs here (the [[AnnIndex.writeScaled]] md5 recipe)
    * and pays O(sample), not a second corpus scan. An [[upgrade]]
    * DELETES the baseline (the retrained model scores differently, so
    * the old distribution would alert wrong) — re-run this after each
    * release roll.
    */
  def writeScoreStats(s: SparkSession, dir: String, docs: DataFrame): Unit = graft.Reliable.scoped {
    docStats(scoreBatch(s, dir, docs))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/scorestats")
  }

  /** CORPUS-DRIFT MONITOR — the LM analog of
    * [[AnnIndex.quantizationDrift]] (q204) and the other half of the
    * frozen-model serve contract: [[scoreBatch]] deliberately scores
    * every batch with the frozen trained tables, but nothing said when
    * the model has gone stale against a shifting corpus. This reports
    * an incoming batch's per-doc score distribution (n_docs, mean,
    * exact p05 of `mean_ppm`) next to the persisted training-time
    * baseline: a batch whose scores sit well BELOW the baseline is
    * drawn from a distribution the model's bigram table no longer
    * covers — quality filtering misclassifies exactly in that gap, and
    * the operator schedules a retrain ([[upgrade]] or [[write]]). Cost
    * is one [[scoreBatch]] (O(batch + pruned model slice)) plus a 1-row
    * baseline read — never a corpus scan. Output: one row per side,
    * ('baseline' | 'batch', n_docs, mean_doc_ppm, p05_doc_ppm).
    * Oracle-gated as q207 on a token-reversed fixture; LmModelSpec pins
    * training-docs ≡ baseline bit-for-bit and a shifted batch strictly
    * below it.
    */
  def scoreDrift(s: SparkSession, dir: String, batch: DataFrame): DataFrame = {
    val cols = Seq(col("side"), col("n_docs"), col("mean_doc_ppm"),
      col("p05_doc_ppm"))
    MetaScalar.open(s, s"$dir/scorestats").withColumn("side", lit("baseline"))
      .select(cols: _*)
      .unionByName(docStats(scoreBatch(s, dir, batch))
        .withColumn("side", lit("batch")).select(cols: _*))
  }

  /** One persisted full-corpus model (+ scorestats baseline) per
    * (session, corpus), shared through [[graft.Shared]] — the
    * [[Dedup.sharedFixedIndexDir]] pattern (the cached frame is
    * just the 1-row dir name).
    */
  private def sharedLmDir(s: SparkSession, d: String): String = {
    import s.implicits._
    graft.Shared.materialized(s, s"lmmodel-full-$d") {
      val tmp = graft.TempDirs.create("graft-lmdrift")
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("text")).localCheckpoint()
      write(s, docs, tmp)
      writeScoreStats(s, tmp, docs)
      Seq(tmp).toDF("dir")
    }.collect()(0).getString(0)
  }

  /** [[scoreDrift]] under the hard gate: the Spark side trains + lays
    * out the REAL persisted model over the full documents table, writes
    * the scorestats baseline through [[writeScoreStats]], and monitors
    * a TOKEN-REVERSED re-ingest of the doc_id % 10 = 7 slice — same
    * unigrams (nothing is OOV), but almost every bigram is one the
    * model never saw, so scoring falls through to backoff and the
    * batch's distribution lands strictly below the baseline at every
    * SF. (On this high-DIVERSITY synthetic corpus the gap is small —
    * bigrams are near-unique so the 0.1·P(w2) term dominates both
    * sides; the gap scales with how predictable the training corpus's
    * transitions are, and LmModelSpec demonstrates the full collapse on
    * a repetitive crafted corpus where P(w2|w1) carries the score.)
    * The oracle replays the entire chain from the raw documents table —
    * LM training, per-doc scoring of the training corpus AND the
    * reversed batch, half-up means, exact rank-selected p05s — and
    * never sees the persisted layout, so a stale baseline row, a
    * drifted table roundtrip, or a wrong rank selection all surface as
    * a hash mismatch.
    */
  val lmDrift = Q(
    "q207_lm_drift",
    (s"""WITH ${Tokenization.lmOracleCore("documents")},
      |sc0 AS (SELECT g.doc_id,
      |         CASE WHEN e.p_cond IS NOT NULL
      |              THEN ${Tokenization.hudSql("9 * e.p_cond + e.p_uni", "10")}
      |              ELSE ${Tokenization.hudSql(
                     s"COALESCE(${Tokenization.hudSql("u2b.c * 1000000", "t0.n")}, 0)", "10")}
      |         END AS s
      |        FROM cbg g
      |        LEFT JOIN bie e ON e.w1 = g.w1 AND e.w2 = g.w2
      |        LEFT JOIN uni u2b ON u2b.w = g.w2
      |        CROSS JOIN tot t0
      |        WHERE g.w2 IS NOT NULL),
      |d0 AS (SELECT doc_id,
      |         CAST((2 * SUM(s) + COUNT(*)) // (2 * COUNT(*)) AS BIGINT) AS mean_ppm
      |       FROM sc0 GROUP BY doc_id),
      |bs AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
      |         CAST((2 * SUM(mean_ppm) + COUNT(*)) // (2 * COUNT(*)) AS BIGINT)
      |           AS mean_doc_ppm
      |       FROM d0),
      |bp AS (SELECT mean_ppm AS p05_doc_ppm FROM (
      |         SELECT mean_ppm, ROW_NUMBER() OVER (ORDER BY mean_ppm, doc_id) AS rnk,
      |           COUNT(*) OVER () AS n FROM d0)
      |       WHERE rnk = (5 * n + 99) // 100),
      |bt AS (SELECT doc_id,
      |         array_to_string(list_reverse(string_split(text, ' ')), ' ') AS text
      |       FROM documents WHERE doc_id % 10 = 7),
      |btx AS (SELECT doc_id, unnest(string_split(text,' ')) AS tok,
      |          generate_subscripts(string_split(text,' '), 1) AS pos FROM bt),
      |bbg AS (SELECT doc_id, tok AS w1,
      |          lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS w2 FROM btx),
      |sc1 AS (SELECT g.doc_id,
      |         CASE WHEN e.p_cond IS NOT NULL
      |              THEN ${Tokenization.hudSql("9 * e.p_cond + e.p_uni", "10")}
      |              ELSE ${Tokenization.hudSql(
                     s"COALESCE(${Tokenization.hudSql("u2b.c * 1000000", "t0.n")}, 0)", "10")}
      |         END AS s
      |        FROM bbg g
      |        LEFT JOIN bie e ON e.w1 = g.w1 AND e.w2 = g.w2
      |        LEFT JOIN uni u2b ON u2b.w = g.w2
      |        CROSS JOIN tot t0
      |        WHERE g.w2 IS NOT NULL),
      |d1 AS (SELECT doc_id,
      |         CAST((2 * SUM(s) + COUNT(*)) // (2 * COUNT(*)) AS BIGINT) AS mean_ppm
      |       FROM sc1 GROUP BY doc_id),
      |ts AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
      |         CAST((2 * SUM(mean_ppm) + COUNT(*)) // (2 * COUNT(*)) AS BIGINT)
      |           AS mean_doc_ppm
      |       FROM d1),
      |tp AS (SELECT mean_ppm AS p05_doc_ppm FROM (
      |         SELECT mean_ppm, ROW_NUMBER() OVER (ORDER BY mean_ppm, doc_id) AS rnk,
      |           COUNT(*) OVER () AS n FROM d1)
      |       WHERE rnk = (5 * n + 99) // 100)
      |SELECT side, n_docs, mean_doc_ppm, p05_doc_ppm FROM (
      |  SELECT 'baseline' AS side, bs.n_docs, bs.mean_doc_ppm, bp.p05_doc_ppm
      |  FROM bs, bp
      |  UNION ALL
      |  SELECT 'batch' AS side, ts.n_docs, ts.mean_doc_ppm, tp.p05_doc_ppm
      |  FROM ts, tp)
      |ORDER BY side""").stripMargin) { (s, d) =>
    val dir = sharedLmDir(s, d)
    val batch = Tables.documents(s, d).filter(col("doc_id") % 10 === 7)
      .select(col("doc_id"),
        concat_ws(" ", reverse(split(col("text"), " "))).as("text"))
    scoreDrift(s, dir, batch).orderBy(col("side"))
  }

  val lmReleaseUpgrade = Q(
    "q163_lm_release_upgrade",
    (s"""WITH base AS (SELECT doc_id,
      |    text || ' t' || CAST(doc_id AS VARCHAR) AS text FROM documents),
      |v2 AS (SELECT doc_id,
      |    CASE WHEN doc_id % 13 = 0 THEN 'rev ' || text ELSE text END AS text
      |  FROM base WHERE doc_id % 19 != 3),
      |${Tokenization.lmOracleCore("v2")},
      |probe AS (SELECT doc_id, text FROM v2 WHERE doc_id % 23 = 7
      |          UNION ALL
      |          SELECT doc_id + 100000 AS doc_id, text FROM base
      |          WHERE doc_id % 19 = 3 AND doc_id % 17 != 5),
      |bx AS (SELECT doc_id, unnest(string_split(text,' ')) AS tok,
      |         generate_subscripts(string_split(text,' '), 1) AS pos FROM probe),
      |bbg AS (SELECT doc_id, tok AS w1,
      |          lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS w2 FROM bx),
      |sc AS (SELECT g.doc_id,
      |         CASE WHEN e.p_cond IS NOT NULL
      |              THEN ${Tokenization.hudSql("9 * e.p_cond + e.p_uni", "10")}
      |              ELSE ${Tokenization.hudSql(
                       s"COALESCE(${Tokenization.hudSql("u2b.c * 1000000", "t0.n")}, 0)", "10")}
      |         END AS s
      |       FROM bbg g
      |       LEFT JOIN bie e ON e.w1 = g.w1 AND e.w2 = g.w2
      |       LEFT JOIN uni u2b ON u2b.w = g.w2
      |       CROSS JOIN tot t0
      |       WHERE g.w2 IS NOT NULL)
      |${Tokenization.LmAggTail}""").stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d).select(col("doc_id"),
      concat(col("text"), lit(" t"), col("doc_id").cast("string")).as("text"))
    val v1 = docs.filter(col("doc_id") % 17 =!= 5).localCheckpoint()
    val v2 = docs.filter(col("doc_id") % 19 =!= 3)
      .withColumn("text",
        when(col("doc_id") % 13 === 0, concat(lit("rev "), col("text")))
          .otherwise(col("text"))).localCheckpoint()
    val dd = Release.delta(v1, v2, "doc_id", md5(col("text")))
    val gone = dd.removed.unionByName(dd.changed).select(col("id").as("doc_id"))
    val fresh = dd.added.unionByName(dd.changed).select(col("id").as("doc_id"))
    val (v1bi, v1uni) = countTables(v1)
    val (addBi, addUni) = countTables(v2.join(fresh, Seq("doc_id"), "left_semi"))
    val (remBi, remUni) = countTables(v1.join(gone, Seq("doc_id"), "left_semi"))
    val bi = v1bi
      .unionByName(addBi)
      .unionByName(remBi.select(col("gram"), (-col("c12")).as("c12")))
      .groupBy(col("gram")).agg(sum(col("c12")).as("c12"))
      .filter(col("c12") > 0)
    val uni = v1uni
      .unionByName(addUni)
      .unionByName(remUni.select(col("w"), (-col("c")).as("c")))
      .groupBy(col("w")).agg(sum(col("c")).as("c"))
      .filter(col("c") > 0).localCheckpoint()
    val tot = uni.agg(coalesce(sum(col("c")), lit(0L)).as("n"))
    val probe = v2.filter(col("doc_id") % 23 === 7)
      .unionByName(docs
        .filter(col("doc_id") % 19 === 3 && col("doc_id") % 17 =!= 5)
        .withColumn("doc_id", col("doc_id") + 100000L))
    scoreAgainst(enrich(bi, uni, tot).drop("c12"), unigramP(uni, tot), probe)
      .orderBy(col("doc_id"))
  }

  def specs: Seq[graft.Q] = Seq(lmReleaseUpgrade, lmDrift)

  private def scoreTransitions(bie: DataFrame, uniP: DataFrame,
      trans: DataFrame): DataFrame = {
    val t = trans
      .join(bie, Seq("gram"), "left")
      .join(uniP.select(col("w").as("w2"), col("p_uni").as("bo")),
        Seq("w2"), "left")
      .select(col("doc_id"),
        when(col("p_cond").isNotNull,
          Det.halfUpDiv(lit(9) * col("p_cond") + col("p_uni"), lit(10)))
          .otherwise( // backoff: bigram unseen -> (1-λ)·P(w2); OOV w2 -> 0
            Det.halfUpDiv(coalesce(col("bo"), lit(0L)), lit(10)))
          .as("s"))
    t.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_trans"), min(col("s")).as("rarest_ppm"),
        sum(col("s")).as("sum_s"))
      .select(col("doc_id"), col("n_trans"), col("rarest_ppm"),
        Det.halfUpDiv(col("sum_s"), col("n_trans")).as("mean_ppm"))
  }
}
