package graft.ops

import graft.{Det, Q, Tables}
import org.apache.spark.sql.functions._

/** Round-9 batch: the three curation-loop steps between "score the
  * corpus" and "ship the shards" that were still missing — interpolated
  * bigram-LM document scoring (the CCNet perplexity-filter shape, one
  * step up from q113's unigram commonness), a dedup-cluster-aware
  * train/val/test splitter with a leakage audit (near-dups must never
  * straddle splits), and temperature-scaled language rebalancing
  * (the XLM-R ∝n^α mixture, α=1/2).
  *
  * Everything stays in exact integer arithmetic ([[Det.halfUpDiv]]
  * micro-units; an exact integer square root for n^(1/2)) so the DuckDB
  * oracles are bit-identical — no log-space or float pow anywhere.
  * Sampling membership derives from the shared md5-prefix hash trick
  * (see [[Sampling]]): reruns, repartitions, and incremental reruns
  * keep the identical sample/split at any scale.
  */
object Advanced15 {

  /** The shared LM oracle core, parameterized by the training-corpus
    * relation: tokenize-with-position → unigram counts + total →
    * lead() transition pairs → enriched bigram table (λ=0.9
    * interpolation terms in exact ppm). ONE copy serving q154 (trains
    * and scores on the full corpus) and q159 (trains on the existing
    * corpus, scores the delta), mirroring the single Spark-side
    * builder [[LmModel.modelTables]] — a smoothing edit is one edit
    * per engine, not three.
    */
  private[ops] def lmOracleCore(corpusSql: String): String =
    s"""cx AS (SELECT doc_id, unnest(string_split(text,' ')) AS tok,
      |         generate_subscripts(string_split(text,' '), 1) AS pos
      |       FROM $corpusSql),
      |uni AS (SELECT tok AS w, CAST(COUNT(*) AS BIGINT) AS c FROM cx GROUP BY tok),
      |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM uni),
      |cbg AS (SELECT doc_id, tok AS w1,
      |          lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS w2 FROM cx),
      |bi AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12 FROM cbg
      |       WHERE w2 IS NOT NULL GROUP BY w1, w2),
      |bie AS (SELECT b.w1, b.w2,
      |          ${hudSql("b.c12 * 1000000", "u1.c")} AS p_cond,
      |          ${hudSql("u2.c * 1000000", "t0.n")} AS p_uni
      |        FROM bi b JOIN uni u1 ON u1.w = b.w1
      |                  JOIN uni u2 ON u2.w = b.w2
      |                  CROSS JOIN tot t0)""".stripMargin

  /** The per-document aggregation tail shared by the LM oracles. */
  private[ops] def LmAggTail: String =
    """SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_trans,
      |  CAST(MIN(s) AS BIGINT) AS rarest_ppm,
      |  CAST((2 * SUM(s) + COUNT(*)) // (2 * COUNT(*)) AS BIGINT) AS mean_ppm
      |FROM sc GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  /** Interpolated bigram-LM score per document — the workhorse of
    * CCNet-style quality filtering: train an LM on the corpus, score
    * each document by how expected its token transitions are, and cut
    * the surprising tail. Per transition (w1→w2) the score is the
    * λ-interpolated estimate λ·P(w2|w1) + (1−λ)·P(w2) with λ=0.9, kept
    * in exact ppm integer units instead of log-space (log is not
    * bit-stable across engines; the ranking is the same). A document's
    * signals are its mean transition score and its single most
    * surprising transition.
    *
    * Scale shape: transitions come from the codegen'd `graft_ngrams`
    * projection (a flat per-document loop — NO corpus-wide window/sort;
    * the oracle's lead() formulation is value-identical because tokens
    * cannot contain the separator). The bigram/unigram COUNT tables are
    * content-diversity sized and enriched vocab-side first (bigram
    * table joins its two unigram marginals + the 1-row total, with the
    * tiny unigram table checkpointed so its corpus scan runs once), and
    * the instance side pays ONE equi-join on the gram string against
    * the enriched table — never three corpus-sized joins. Total corpus
    * work: three scan-bound projections and one instance join, zero
    * sorts.
    */
  val bigramLmScore = Q(
    "q154_bigram_lm_score",
    (s"WITH ${lmOracleCore("documents")}" +
      s""",
      |sc AS (SELECT g.doc_id,
      |         ${hudSql("9 * e.p_cond + e.p_uni", "10")} AS s
      |       FROM cbg g JOIN bie e ON e.w1 = g.w1 AND e.w2 = g.w2
      |       WHERE g.w2 IS NOT NULL)
      |$LmAggTail""").stripMargin) { (s, d) =>
    // ONE model-build path shared with the persisted ops.LmModel (the
    // codegen'd gram transitions + vocab-side-enriched bigram table) —
    // the live scorer and the servable model cannot desynchronize
    val docs = Tables.documents(s, d)
    val (bie, _, _) = LmModel.modelTables(docs)
    LmModel.transitions(docs).join(bie, Seq("gram"))
      .select(col("doc_id"),
        Det.halfUpDiv(lit(9) * col("p_cond") + col("p_uni"), lit(10)).as("s"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_trans"), min(col("s")).as("rarest_ppm"),
        sum(col("s")).as("sum_s"))
      .select(col("doc_id"), col("n_trans"), col("rarest_ppm"),
        Det.halfUpDiv(col("sum_s"), col("n_trans")).as("mean_ppm"))
      .orderBy(col("doc_id"))
  }

  /** Hash bucket in [0, 10) from a hex slice of md5(id) — the split
    * assigner. Chars 17-23 so it decorrelates from the sampling hashes
    * (q60/q121 use 1-7, the corpus mixture uses 9-15).
    */
  private def splitBucket(id: String) =
    expr(s"CAST(conv(substr(md5(CAST($id AS STRING)), 17, 7), 16, 10) AS BIGINT) % 10")
  private def splitName(bucket: org.apache.spark.sql.Column) =
    when(bucket < 8, "train").when(bucket === 8, "val").otherwise("test")
  private val SplitSqlA =
    "('0x' || substr(md5(CAST(%s AS VARCHAR)), 17, 7))::BIGINT %% 10"
  private def splitSql(idExpr: String): String = {
    val b = SplitSqlA.format(idExpr)
    s"CASE WHEN $b < 8 THEN 'train' WHEN $b = 8 THEN 'val' ELSE 'test' END"
  }

  /** Dedup-cluster-aware train/val/test split with a leakage audit.
    * Naive per-document hash splitting leaks: near-duplicate documents
    * land on different sides of the train/test cut and the eval set is
    * contaminated. The guarded split assigns every document the split
    * of its near-dup CLUSTER representative (q57's connected components
    * over the LSH candidate graph; singletons are their own rep), which
    * makes cross-split near-dup pairs structurally impossible. Output:
    * per-split sizes under the guarded assignment plus the audit — the
    * naive assignment's leaking pair count vs the guarded one's
    * (always 0, and the query proves it rather than asserting it).
    *
    * Scale: the component labels come from the SHARED candidate graph
    * (edge-count-sized, not corpus-sized); the corpus pays one
    * broadcast-able left join against the label table and one narrow
    * projection. The audit joins the split table to the EDGE list —
    * again candidate-sized. Deterministic: split membership is a pure
    * function of md5(rep doc_id), so reruns and incremental extensions
    * place every old document exactly where it was.
    */
  val splitLeakageGuard = Q(
    "q155_split_leakage_guard",
    (TextOps.ccOracleSql +
      s""",
      |rep AS (
      |  SELECT d.doc_id, COALESCE(c.cluster, d.doc_id) AS rep
      |  FROM documents d LEFT JOIN cl c ON c.node = d.doc_id),
      |sp AS (
      |  SELECT doc_id, rep,
      |    ${splitSql("doc_id")} AS naive_split,
      |    ${splitSql("rep")} AS split
      |  FROM rep),
      |leak AS (
      |  SELECT
      |    CAST(COUNT(CASE WHEN a.naive_split <> b.naive_split THEN 1 END) AS BIGINT)
      |      AS naive_leak_pairs,
      |    CAST(COUNT(CASE WHEN a.split <> b.split THEN 1 END) AS BIGINT)
      |      AS guarded_leak_pairs
      |  FROM edges e JOIN sp a ON a.doc_id = e.src
      |               JOIN sp b ON b.doc_id = e.dst)
      |SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(COUNT(DISTINCT rep) AS BIGINT) AS n_clusters,
      |  naive_leak_pairs, guarded_leak_pairs
      |FROM sp CROSS JOIN leak
      |GROUP BY split, naive_leak_pairs, guarded_leak_pairs
      |ORDER BY split""").stripMargin) { (s, d) =>
    val labels = DedupClusters.clusterLabels(s, d)
      .select(col("node"), col("label"))
    // sp feeds THREE plan branches (both leak-join sides + the final
    // groupBy); Spark does not dedup common subplans, so materialize the
    // narrow 4-column table once (the q32 multi-branch-base pattern)
    // instead of scanning + label-joining the corpus three times.
    val sp = Tables.documents(s, d).select(col("doc_id"))
      .join(broadcast(labels), col("doc_id") === col("node"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("rep"))
      .select(col("doc_id"), col("rep"),
        splitName(splitBucket("doc_id")).as("naive_split"),
        splitName(splitBucket("rep")).as("split"))
      .localCheckpoint()
    val edges = TextOps.minhashCandidates(s, d)
    val leak = edges
      .join(sp.select(col("doc_id"), col("naive_split").as("na"),
        col("split").as("ga")), col("doc_id") === col("da")).drop("doc_id")
      .join(sp.select(col("doc_id"), col("naive_split").as("nb"),
        col("split").as("gb")), col("doc_id") === col("db")).drop("doc_id")
      .agg(
        count(when(col("na") =!= col("nb"), 1)).as("naive_leak_pairs"),
        count(when(col("ga") =!= col("gb"), 1)).as("guarded_leak_pairs"))
    sp.crossJoin(broadcast(leak))
      .groupBy(col("split"), col("naive_leak_pairs"), col("guarded_leak_pairs"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("rep")).as("n_clusters"))
      .select(col("split"), col("n_docs"), col("n_clusters"),
        col("naive_leak_pairs"), col("guarded_leak_pairs"))
      .orderBy(col("split"))
  }

  /** Exact integer square root: floor(sqrt(x)) from the double sqrt,
    * then a ±1 integer correction so a one-ulp double error at a
    * perfect-square boundary cannot flip the result. Exact for every
    * x < 2^52; identical in DuckDB (same correction spelled in SQL).
    */
  private[graft] def isqrt(x: org.apache.spark.sql.Column) = {
    val r0 = floor(sqrt(x.cast("double"))).cast("long")
    r0 + when((r0 + 1) * (r0 + 1) <= x, 1L).otherwise(0L) -
      when(r0 * r0 > x, 1L).otherwise(0L)
  }
  private def isqrtSql(x: String): String =
    s"""(CAST(FLOOR(SQRT(CAST($x AS DOUBLE))) AS BIGINT)
       | + CASE WHEN (CAST(FLOOR(SQRT(CAST($x AS DOUBLE))) AS BIGINT) + 1)
       |          * (CAST(FLOOR(SQRT(CAST($x AS DOUBLE))) AS BIGINT) + 1) <= $x
       |        THEN 1 ELSE 0 END
       | - CASE WHEN CAST(FLOOR(SQRT(CAST($x AS DOUBLE))) AS BIGINT)
       |          * CAST(FLOOR(SQRT(CAST($x AS DOUBLE))) AS BIGINT) > $x
       |        THEN 1 ELSE 0 END)""".stripMargin.replaceAll("\n", " ")

  /** Temperature-scaled language mixture — the multilingual rebalance
    * (XLM-R/mT5): sample language ℓ proportionally to n_ℓ^α with
    * α = 1/2, which upweights low-resource languages relative to their
    * raw share. Weights are EXACT integer square roots (no float pow),
    * per-language doc targets are half-up rationals of a fixed 200-doc
    * budget, and membership is a SALTED deterministic md5 hash
    * ('tmix:' prefix — every md5 hex slice is already claimed by
    * q60/q121 (1-7), the corpus mixture (9-15), q155's split (17-23)
    * and q158 (25-31), so decorrelation comes from a salt) compared
    * by integer cross-multiplication (keep ⇔ h·n_ℓ < target_ℓ·10^6 —
    * no float division), so the sample is reproducible under reruns,
    * repartitioning, and incremental extension. A language whose target
    * exceeds its size keeps everything (the comparison saturates
    * naturally). Scale: one language-sized aggregate (broadcast back),
    * one narrow corpus projection — the corpus never shuffles.
    */
  val temperatureMixture = Q(
    "q156_temperature_mixture",
    s"""WITH c AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n
      |           FROM documents GROUP BY lang),
      |w AS (SELECT lang, n, ${isqrtSql("n")} AS wt FROM c),
      |tw AS (SELECT CAST(SUM(wt) AS BIGINT) AS total_w FROM w),
      |tgt AS (SELECT lang, n, wt,
      |          (2 * 200 * wt + total_w) // (2 * total_w) AS target
      |        FROM w CROSS JOIN tw),
      |s AS (SELECT d.doc_id, d.lang, t.n, t.wt, t.target,
      |        ('0x' || substr(md5('tmix:' || CAST(d.doc_id AS VARCHAR)), 1, 7))::BIGINT
      |          % 1000000 AS hv
      |      FROM documents d JOIN tgt t USING (lang))
      |SELECT lang, MAX(n) AS n_docs, MAX(wt) AS weight,
      |  CAST(MAX(target) AS BIGINT) AS target_docs,
      |  CAST(COUNT(CASE WHEN hv * n < target * 1000000 THEN 1 END) AS BIGINT)
      |    AS n_sampled
      |FROM s GROUP BY lang
      |ORDER BY lang""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val c = docs.groupBy(col("lang")).agg(count(lit(1)).as("n"))
    val w = c.select(col("lang"), col("n"), isqrt(col("n")).as("wt"))
    val tw = w.agg(sum(col("wt")).as("total_w"))
    val tgt = w.crossJoin(broadcast(tw))
      .select(col("lang"), col("n"), col("wt"),
        Det.halfUpDiv(lit(200L) * col("wt"), col("total_w")).as("target"))
    docs.join(broadcast(tgt), Seq("lang"))
      .withColumn("hv",
        expr("CAST(conv(substr(md5(concat('tmix:', CAST(doc_id AS STRING))), 1, 7), 16, 10) AS BIGINT) % 1000000"))
      .groupBy(col("lang"))
      .agg(max(col("n")).as("n_docs"), max(col("wt")).as("weight"),
        max(col("target")).as("target_docs"),
        count(when(col("hv") * col("n") < col("target") * lit(1000000L), 1))
          .as("n_sampled"))
      .orderBy(col("lang"))
  }

  /** Sign-aware half-up integer division as DuckDB SQL text — the
    * negative-capable [[Det.halfUpDiv]] spelling (gradients and centered
    * features go negative, so the short non-negative form is WRONG here;
    * see the Det scaladoc).
    */
  private[ops] def hudSql(num: String, den: String): String =
    s"((2*($num) + CASE WHEN ($num) < 0 THEN -($den) ELSE ($den) END) // (2*($den)))"

  /** Trainable linear quality classifier — the FineWeb-Edu distillation
    * shape: a teacher signal (here a length rule, standing in for the
    * LLM grader) is distilled into a cheap linear scorer over different
    * correlated features (token count, distinct-token count, mean token
    * length), which then scores the whole corpus at projection cost.
    * Training is THREE full-batch gradient-descent steps on a
    * hard-sigmoid linear probability model, entirely in exact BIGINT
    * micro-units ([[Det.halfUpDiv]] everywhere, clamp instead of exp) —
    * so the distributed training loop is bit-identically replayable by
    * the DuckDB oracle, step for step. Features are mean-centered
    * (exact integer means) so the bias absorbs the class prior instead
    * of dragging every weight.
    *
    * Scale shape: features are ONE flat codegen'd projection (array
    * size/distinct on the token split — no explode, no shuffle); each
    * GD step is one partial-agg'd scan of the materialized feature
    * table collecting 4 numbers to the driver (the same bounded-read
    * pattern as the Lloyd/PQ trainers); scoring is a projection with
    * the learned weights as literals. Learned check: accuracy lands
    * ~96% against a ~50% class prior (Advanced15Spec).
    */
  private[ops] val ZSql = hudSql("w1*f1 + w2*f2 + w3*f3 + wb*1000000", "1000000")
  private[ops] val SigSql =
    s"LEAST(1000000, GREATEST(0, ${hudSql(s"($ZSql) + 2000000", "4")}))"

  /** The shared oracle prefix of the q157/q158 family: feature
    * extraction, exact integer centering, and the 3-step hard-sigmoid
    * gradient descent, ending at the trained weight table `w3t` (and
    * the centered feature table `x`, which carries `source` through for
    * the sampling tail). ONE definition so the two oracles cannot
    * desynchronize their training replays.
    */
  /** The three raw-feature SQL expressions (ppm, uncentered) — shared
    * by [[lqcOraclePrefix]] and q162's delta-side feature CTE.
    */
  private[ops] def lqcRawSql: (String, String, String) = (
    s"LEAST(1000000, ${hudSql("CAST(len(string_split(text,' ')) AS BIGINT) * 1000000", "100")})",
    s"LEAST(1000000, ${hudSql("CAST(len(list_distinct(string_split(text,' '))) AS BIGINT) * 1000000", "60")})",
    s"LEAST(1000000, ${hudSql("n_chars * 1000000", "8 * CAST(len(string_split(text,' ')) AS BIGINT)")})")

  private[ops] def lqcOraclePrefix(corpusSql: String = "documents"): String = {
    val (r1s, r2s, r3s) = lqcRawSql
    def gradStep(prev: String, errTbl: String): String =
      s"""(SELECT
         |  MAX(w1) - 4 * ${hudSql(s"CAST(SUM(${hudSql("err * f1", "1000000")}) AS BIGINT)", "n")} AS w1,
         |  MAX(w2) - 4 * ${hudSql(s"CAST(SUM(${hudSql("err * f2", "1000000")}) AS BIGINT)", "n")} AS w2,
         |  MAX(w3) - 4 * ${hudSql(s"CAST(SUM(${hudSql("err * f3", "1000000")}) AS BIGINT)", "n")} AS w3,
         |  MAX(wb) - 4 * ${hudSql("CAST(SUM(err) AS BIGINT)", "n")} AS wb
         | FROM $errTbl CROSS JOIN $prev CROSS JOIN n0 GROUP BY n)""".stripMargin
    s"""WITH raw AS (
      |  SELECT doc_id, source, CASE WHEN n_chars > 300 THEN 1000000 ELSE 0 END AS y,
      |    $r1s AS r1,
      |    $r2s AS r2,
      |    $r3s AS r3
      |  FROM $corpusSql),
      |n0 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM raw),
      |mu AS (SELECT ${hudSql("CAST(SUM(r1) AS BIGINT)", "n")} AS m1,
      |        ${hudSql("CAST(SUM(r2) AS BIGINT)", "n")} AS m2,
      |        ${hudSql("CAST(SUM(r3) AS BIGINT)", "n")} AS m3
      |       FROM raw CROSS JOIN n0 GROUP BY n),
      |x AS (SELECT doc_id, source, y, r1 - m1 AS f1, r2 - m2 AS f2, r3 - m3 AS f3
      |      FROM raw CROSS JOIN mu),
      |e1 AS (SELECT doc_id, y, f1, f2, f3, 500000 - y AS err FROM x),
      |w0t AS (SELECT CAST(0 AS BIGINT) AS w1, CAST(0 AS BIGINT) AS w2,
      |         CAST(0 AS BIGINT) AS w3, CAST(0 AS BIGINT) AS wb),
      |w1t AS ${gradStep("w0t", "e1")},
      |e2 AS (SELECT doc_id, y, f1, f2, f3, ($SigSql) - y AS err FROM x CROSS JOIN w1t),
      |w2t AS ${gradStep("w1t", "e2")},
      |e3 AS (SELECT doc_id, y, f1, f2, f3, ($SigSql) - y AS err FROM x CROSS JOIN w2t),
      |w3t AS ${gradStep("w2t", "e3")}""".stripMargin
  }

  val linearQualityClassifier = Q(
    "q157_linear_quality_classifier",
    (lqcOraclePrefix() +
      s""",
        |p AS (SELECT y, CASE WHEN ($ZSql) > 0 THEN 1 ELSE 0 END AS pred
        |      FROM x CROSS JOIN w3t)
        |SELECT (SELECT w1 FROM w3t) AS w_ntok, (SELECT w2 FROM w3t) AS w_ndist,
        |  (SELECT w3 FROM w3t) AS w_toklen, (SELECT wb FROM w3t) AS w_bias,
        |  CAST(COUNT(CASE WHEN pred = 1 AND y = 1000000 THEN 1 END) AS BIGINT) AS tp,
        |  CAST(COUNT(CASE WHEN pred = 1 AND y = 0 THEN 1 END) AS BIGINT) AS fp,
        |  CAST(COUNT(CASE WHEN pred = 0 AND y = 0 THEN 1 END) AS BIGINT) AS tn,
        |  CAST(COUNT(CASE WHEN pred = 0 AND y = 1000000 THEN 1 END) AS BIGINT) AS fn,
        |  ${hudSql("(COUNT(CASE WHEN (pred = 1 AND y = 1000000) OR (pred = 0 AND y = 0) THEN 1 END)) * 1000000", "COUNT(*)")} AS acc_ppm
        |FROM p""".stripMargin)) { (s, d) =>
    val micro = 1000000L
    val (x, w) = trainedModel(s, d)
    val zF = Det.halfUpDiv(
      lit(w(0)) * col("f1") + lit(w(1)) * col("f2") + lit(w(2)) * col("f3") +
        lit(w(3)) * micro, lit(micro))
    x.select(col("y"), when(zF > 0, 1).otherwise(0).as("pred"))
      .agg(
        count(when(col("pred") === 1 && col("y") === micro, 1)).as("tp"),
        count(when(col("pred") === 1 && col("y") === 0L, 1)).as("fp"),
        count(when(col("pred") === 0 && col("y") === 0L, 1)).as("tn"),
        count(when(col("pred") === 0 && col("y") === micro, 1)).as("fn"))
      .select(lit(w(0)).as("w_ntok"), lit(w(1)).as("w_ndist"),
        lit(w(2)).as("w_toklen"), lit(w(3)).as("w_bias"),
        col("tp"), col("fp"), col("tn"), col("fn"),
        Det.halfUpDiv((col("tp") + col("tn")) * micro,
          col("tp") + col("fp") + col("tn") + col("fn")).as("acc_ppm"))
  }

  private[ops] def hudL(num: Long, den: Long): Long =
    (2 * num + (if (num < 0) -den else den)) / (2 * den)

  /** Raw quality features from (doc_id, text) — batch-generic: n_chars
    * derives from `length(text)` (equal to the documents table's
    * `n_chars` column at every SF, so the oracle's column-based form is
    * value-identical) and `extra` columns are carried through. ONE
    * definition shared by q157/q158's trainer and the persisted
    * [[QualityModel]], so the feature recipe cannot fork between the
    * gated queries and the serve path.
    */
  private[ops] def lqcRawFeatures(docs: org.apache.spark.sql.DataFrame,
      extra: Seq[String] = Nil): org.apache.spark.sql.DataFrame = {
    val micro = 1000000L
    val nToks = size(split(col("text"), " ")).cast("long")
    val nChars = length(col("text")).cast("long")
    docs.select(Seq(col("doc_id")) ++ extra.map(col) ++ Seq(
      when(nChars > 300, micro).otherwise(0L).as("y"),
      least(lit(micro), Det.halfUpDiv(nToks * micro, lit(100L))).as("r1"),
      least(lit(micro), Det.halfUpDiv(
        size(array_distinct(split(col("text"), " "))).cast("long") * micro,
        lit(60L))).as("r2"),
      least(lit(micro), Det.halfUpDiv(nChars * micro, lit(8L) * nToks)).as("r3")): _*)
  }

  /** Exact integer feature means over a raw feature table: (n, mus). */
  private[ops] def lqcMeans(raw: org.apache.spark.sql.DataFrame): (Long, Array[Long]) = {
    val Array(nL, s1, s2c, s3c) = raw
      .agg(count(lit(1)), sum(col("r1")), sum(col("r2")), sum(col("r3")))
      .collect()(0).toSeq.map(v => v.toString.toLong).toArray
    (nL, Array(hudL(s1, nL), hudL(s2c, nL), hudL(s3c, nL)))
  }

  /** The 3-step hard-sigmoid gradient descent over a centered feature
    * table `x(f1, f2, f3, y)` — each step ONE partial-agg'd scan
    * collecting 4 longs (the Lloyd-trainer bounded-read pattern).
    * Returns (w1, w2, w3, bias) in micro-units. ONE definition behind
    * q157/q158 and the persisted [[QualityModel]].
    */
  private[ops] def lqcTrain(x: org.apache.spark.sql.DataFrame, nL: Long): Array[Long] = {
    val micro = 1000000L
    var w = Array(0L, 0L, 0L, 0L) // w1, w2, w3, bias — micro-units
    for (_ <- 1 to 3) {
      val zc = Det.halfUpDiv(
        lit(w(0)) * col("f1") + lit(w(1)) * col("f2") + lit(w(2)) * col("f3") +
          lit(w(3)) * micro, lit(micro))
      val sg = least(lit(micro), greatest(lit(0L),
        Det.halfUpDiv(zc + lit(2000000L), lit(4L))))
      val err = (sg - col("y")).as("err")
      val g = x.select(col("f1"), col("f2"), col("f3"), err)
        .agg(sum(Det.halfUpDiv(col("err") * col("f1"), lit(micro))),
          sum(Det.halfUpDiv(col("err") * col("f2"), lit(micro))),
          sum(Det.halfUpDiv(col("err") * col("f3"), lit(micro))),
          sum(col("err")))
        .collect()(0).toSeq.map(v => v.toString.toLong).toArray
      w = w.zip(g).map { case (wi, gi) => wi - 4 * hudL(gi, nL) }
    }
    w
  }

  /** The clamped hard-sigmoid score (ppm) from centered features under
    * weights `w` — the serving arithmetic of the q157/q158 family.
    */
  private[ops] def lqcSig(w: Array[Long]): org.apache.spark.sql.Column = {
    val micro = 1000000L
    val z = Det.halfUpDiv(
      lit(w(0)) * col("f1") + lit(w(1)) * col("f2") + lit(w(2)) * col("f3") +
        lit(w(3)) * micro, lit(micro))
    least(lit(micro), greatest(lit(0L), Det.halfUpDiv(z + lit(2000000L), lit(4L))))
  }

  /** Centered feature table (session-shared; one flat projection,
    * materialized once) and the trained weight vector — computed once
    * per (session, dataset) and reused by q157's eval and q158's
    * sampler, the same train-once serve-many economics as the
    * Lloyd/PQ quantizers. The weights live in a 1-row DataFrame under
    * the SAME [[graft.Shared]] cache as the feature table (not a
    * side map), so session eviction releases both — no JVM-lifetime
    * retention of checkpointed blocks across cycled sessions.
    */
  private def trainedModel(s: org.apache.spark.sql.SparkSession, d: String)
      : (org.apache.spark.sql.DataFrame, Array[Long]) = {
    val x = graft.Shared.materialized(s, s"lqc-centered@$d") {
      val raw = lqcRawFeatures(Tables.documents(s, d), Seq("source"))
        .localCheckpoint()
      val (nL, mus) = lqcMeans(raw)
      raw.select(col("doc_id"), col("source"), col("y"), lit(nL).as("n"),
        (col("r1") - mus(0)).as("f1"), (col("r2") - mus(1)).as("f2"),
        (col("r3") - mus(2)).as("f3"))
    }
    val wDf = graft.Shared.materialized(s, s"lqc-weights@$d") {
      val nL = x.select(col("n")).limit(1).collect()(0).getLong(0)
      val w = lqcTrain(x, nL)
      import s.implicits._
      Seq((w(0), w(1), w(2), w(3))).toDF("w1", "w2", "w3", "wb")
    }
    val r = wDf.collect()(0)
    (x, Array(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
  }

  /** Model-scored quality sampling — the step after q157 trains the
    * scorer: every document keeps with probability proportional to its
    * hard-sigmoid quality score (rate = score/2, so even a perfect doc
    * keeps at 50% — a downsampling pass, not a gate), decided by the
    * shared deterministic md5-hash threshold (chars 25-31, independent
    * of the q60/q121/q155 slices). The comparison is pure integers
    * (h < ⌈score/2⌉ in micro-units), so the sample is reproducible
    * under reruns, repartitioning, and incremental extension, and the
    * oracle replays training AND sampling end-to-end. Output: the
    * per-source funnel (docs, mean score, kept) — the dataset-card row
    * a curation run publishes. Scale: scoring is a projection over the
    * shared feature table; the aggregate is source-sized.
    */
  val qualityWeightedSample = Q(
    "q158_quality_weighted_sample",
    (lqcOraclePrefix() +
      s""",
        |sc AS (SELECT doc_id, source, ($SigSql) AS sig,
        |        ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 25, 7))::BIGINT
        |          % 1000000 AS hv
        |       FROM x CROSS JOIN w3t)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  ${hudSql("CAST(SUM(sig) AS BIGINT)", "COUNT(*)")} AS mean_score_ppm,
        |  CAST(COUNT(CASE WHEN hv < ${hudSql("sig", "2")} THEN 1 END) AS BIGINT)
        |    AS n_sampled
        |FROM sc GROUP BY source
        |ORDER BY source""".stripMargin)) { (s, d) =>
    val micro = 1000000L
    val (x, w) = trainedModel(s, d)
    val zF = Det.halfUpDiv(
      lit(w(0)) * col("f1") + lit(w(1)) * col("f2") + lit(w(2)) * col("f3") +
        lit(w(3)) * micro, lit(micro))
    val sig = least(lit(micro), greatest(lit(0L),
      Det.halfUpDiv(zF + lit(2000000L), lit(4L))))
    x.select(col("source"), sig.as("sig"),
      expr("CAST(conv(substr(md5(CAST(doc_id AS STRING)), 25, 7), 16, 10) AS BIGINT) % 1000000")
        .as("hv"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        Det.halfUpDiv(sum(col("sig")), count(lit(1))).as("mean_score_ppm"),
        count(when(col("hv") < Det.halfUpDiv(col("sig"), lit(2L)), 1))
          .as("n_sampled"))
      .orderBy(col("source"))
  }

  /** Incremental LM scoring under the hard gate — q153's pattern for
    * the language model: the arriving delta (doc_id ≥ 400, q65's
    * convention) is scored against a model trained ONLY on the existing
    * corpus (doc_id < 400), through the SAME [[LmModel.scoreAgainst]]
    * join the persisted model serves — including the unigram-backoff
    * branch for transitions the training corpus never saw, which q154
    * (self-trained) can never exercise; the testdata delta carries such
    * transitions at every SF and LmModelSpec asserts that fact so a
    * regeneration that silently removed them (reducing this gate to
    * q154's shape) fails loudly. The OOV 0-floor has no oracle
    * coverage (the delta shares the corpus vocabulary) — it is pinned
    * by LmModelSpec's crafted OOV batch instead. LmModelSpec also pins
    * this live form bit-identical to a write + scoreBatch roundtrip.
    */
  val incrementalLmScore = Q(
    "q159_incremental_lm_score",
    (s"WITH ${lmOracleCore("(SELECT doc_id, text FROM documents WHERE doc_id < 400)")}" +
      s""",
      |bx AS (SELECT doc_id, unnest(string_split(text,' ')) AS tok,
      |         generate_subscripts(string_split(text,' '), 1) AS pos
      |       FROM documents WHERE doc_id >= 400),
      |bbg AS (SELECT doc_id, tok AS w1,
      |          lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS w2 FROM bx),
      |sc AS (SELECT g.doc_id,
      |         CASE WHEN e.p_cond IS NOT NULL
      |              THEN ${hudSql("9 * e.p_cond + e.p_uni", "10")}
      |              ELSE ${hudSql(s"COALESCE(${hudSql("u2b.c * 1000000", "t0.n")}, 0)", "10")}
      |         END AS s
      |       FROM bbg g
      |       LEFT JOIN bie e ON e.w1 = g.w1 AND e.w2 = g.w2
      |       LEFT JOIN uni u2b ON u2b.w = g.w2
      |       CROSS JOIN tot t0
      |       WHERE g.w2 IS NOT NULL)
      |$LmAggTail""").stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val (bie, uni, tot) = LmModel.modelTables(docs.filter(col("doc_id") < 400))
    LmModel.scoreAgainst(bie, LmModel.unigramP(uni, tot),
      docs.filter(col("doc_id") >= 400))
      .orderBy(col("doc_id"))
  }

  def specs: Seq[Q] = Seq(bigramLmScore, splitLeakageGuard, temperatureMixture,
    linearQualityClassifier, qualityWeightedSample, incrementalLmScore)
}
