package graft.ops

import graft.{Q, Shared, Tables}
import graft.functions.{DotProduct, SqEncode}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Round-6 continuation: the two retrieval shapes still missing from the
  * families already in the registry.
  *
  *  - q145 SCALAR quantization (SQ8) completes the vector-compression
  *    ladder alongside PQ (q108/q109), IVF+ADC (q140/q143) and residual
  *    IVF-PQ (q144): one byte per DIMENSION (64 B/vector here — 4× under
  *    float32) instead of PQ's one byte per BLOCK. SQ8 is what production
  *    vector stores reach for when recall matters more than the last 16×
  *    of compression — the quantizer is just a per-dimension affine map,
  *    so encode is a single codegen'd projection (no codebook training
  *    loop) and distances on codes are EXACT integer arithmetic, which
  *    also makes the whole query deterministic end-to-end (no float-sum
  *    ordering anywhere).
  *  - q146 BM25 — the standard retrieval scorer the inverted-index family
  *    (q48 tf-idf, q129 postings) was missing. Same corpus statistics
  *    (tf, df, |d|, avgdl), Okapi weighting with k1=1.2, b=0.75.
  *
  * At 100 TB: SQ8 params are 2×64 doubles (one broadcast row, trained in
  * one map-side-combined pass over the corpus); the encoded table is 64
  * bytes/vector scanned with one fused projection per candidate — no
  * per-dimension join fan-out. BM25's tf/df/dl aggregates are all
  * map-side-combinable groupBys on (doc, term)/(term)/(doc), and the
  * final top-k rides the row_number()≤k idiom that [[graft.plans.TopKRewrite]]
  * lowers to the bounded-heap native operator engine-wide.
  */
object Advanced13 {

  private val Dim = 64

  /** Per-dimension (min, max) quantizer parameters, pivoted into two
    * 64-slot arrays in a single broadcastable row. Trained in one
    * map-side-combined aggregation pass; the pivot (collect_list over 64
    * rows) is driver-scale-free and runs once per session.
    */
  private[graft] def sqParams(s: SparkSession, d: String): DataFrame =
    Shared.materialized(s, s"sq8-params@$d") {
      Tables.vectors(s, d)
        .select(posexplode(col("v")).as(Seq("i", "x")))
        .groupBy(col("i"))
        .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
        .agg(collect_list(struct(col("i"), col("mn"))).as("lmn"),
          collect_list(struct(col("i"), col("mx"))).as("lmx"))
        .select(
          transform(array_sort(col("lmn")), e => e.getField("mn")).as("mns"),
          transform(array_sort(col("lmx")), e => e.getField("mx")).as("mxs"))
    }

  /** Encoded corpus (vec_id, cv: 64 int-valued doubles, n2 = ‖cv‖² as
    * BIGINT) — session-shared, the SQ8 analogue of [[Advanced8.pqAssign]].
    * The encode is the codegen'd loop expression
    * [[graft.functions.SqEncode]] (`graft_sq8_encode`): the previous
    * unrolled 64-entry `array(when/round)` projection crossed janino's
    * 64 KB method limit and dropped the whole encode stage to
    * interpreted execution — see SqEncode's Scaladoc. Codes stay exact
    * small integers in doubles so `graft_dot` serves as the integer
    * kernel; a constant dimension (mx = mn) encodes as 0 (the oracle
    * mirrors via NULLIF + COALESCE).
    */
  private[graft] def sqCodes(s: SparkSession, d: String): DataFrame =
    Shared.materialized(s, s"sq8-codes@$d") {
      Tables.vectors(s, d)
        .crossJoin(broadcast(sqParams(s, d)))
        .select(col("vec_id"), SqEncode.sq8Encode(col("v"), col("mns"), col("mxs")).as("cv"))
        .select(col("vec_id"), col("cv"),
          DotProduct.dot(col("cv"), col("cv")).cast("long").as("n2"))
    }

  /** Oracle CTE chain for the SQ8 code ranking, through `r(qid, cand,
    * sqdist, rnk ≤ k)` — generated (never copied) so q145 and the q150
    * retrieval-eval express identical quantized-ranking semantics.
    */
  private[graft] def sq8RankCtes(nq: Int, k: Int, excludeSelf: Boolean): String = {
    val selfCond = if (excludeSelf) " AND c.vec_id <> q.vec_id" else ""
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |dims AS (SELECT vec_id, unnest(range(0, 64)) AS i, unnest(v) AS x FROM e),
      |st AS (SELECT i, MIN(x) AS mn, MAX(x) AS mx FROM dims GROUP BY i),
      |codes AS (
      |  SELECT vec_id, i, COALESCE(ROUND((x - mn) * 255 / NULLIF(mx - mn, 0)), 0) AS c
      |  FROM dims JOIN st USING (i)),
      |cv AS (SELECT vec_id, array_agg(c ORDER BY i) AS cv FROM codes GROUP BY vec_id),
      |nn AS (SELECT vec_id, cv, CAST(list_dot_product(cv, cv) AS BIGINT) AS n2 FROM cv),
      |dist AS (
      |  SELECT q.vec_id AS qid, c.vec_id AS cand,
      |    CAST(q.n2 + c.n2 - 2 * list_dot_product(q.cv, c.cv) AS BIGINT) AS sqdist
      |  FROM nn q CROSS JOIN nn c WHERE q.vec_id < $nq$selfCond),
      |r AS (
      |  SELECT qid, cand, sqdist,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY qid
      |      ORDER BY sqdist, cand) AS INTEGER) AS rnk
      |  FROM dist QUALIFY rnk <= $k)""".stripMargin
  }

  /** The SQ8 code ranking (qid, cand, sqdist, rnk ≤ k) for queries
    * vec_id < nq — q145's dataflow, parameterized for reuse by the q150
    * retrieval-eval (which excludes self-matches).
    */
  private[graft] def sq8Ranking(s: SparkSession, d: String, nq: Int, k: Int,
      excludeSelf: Boolean): DataFrame = {
    val codes = sqCodes(s, d)
    val q = codes.filter(col("vec_id") < nq)
      .select(col("vec_id").as("qid"), col("cv").as("qv"), col("n2").as("qn2"))
    val wk = Window.partitionBy(col("qid")).orderBy(col("sqdist"), col("cand"))
    val base = codes.select(col("vec_id").as("cand"), col("cv"), col("n2"))
      .crossJoin(broadcast(q))
    val scoped = if (excludeSelf) base.filter(col("cand") =!= col("qid")) else base
    scoped
      .select(col("qid"), col("cand"),
        (col("qn2") + col("n2") - lit(2) * DotProduct.dot(col("qv"), col("cv")))
          .cast("long").as("sqdist"))
      .withColumn("rnk", row_number().over(wk))
      .filter(col("rnk") <= k)
  }

  /** SQ8 symmetric search: top-3 per query by exact integer squared
    * distance between code vectors, ‖q−c‖² = ‖q‖²+‖c‖²−2⟨q,c⟩ (all values
    * ≤ 64·255² < 2^53, so the double dot product is exact).
    */
  val sq8Search = Q(
    "q145_sq8_search",
    s"""WITH ${sq8RankCtes(5, 3, excludeSelf = false)}
      |SELECT qid, rnk, cand, sqdist FROM r ORDER BY qid, rnk""".stripMargin) { (s, d) =>
    sq8Ranking(s, d, nq = 5, k = 3, excludeSelf = false)
      .select(col("qid"), col("rnk"), col("cand"), col("sqdist"))
      .orderBy(col("qid"), col("rnk"))
  }

  /** The fixed retrieval query for q146 — one rare term (df 25/500 at
    * sf0.01 → high idf) and two common ones, so the ranking exercises the
    * idf spread, not just tf.
    */
  private[ops] val BmQueryTerms = Seq("dup", "vector", "spark")

  /** Okapi idf over (df, n_docs) columns: ln((N−df+0.5)/(df+0.5)+1). */
  private[ops] def bmIdf: Column =
    log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0)

  /** Okapi tf saturation + length normalization over (tf, dl, n_toks,
    * n_docs) columns, k1=1.2, b=0.75.
    */
  private[ops] def bmTfNorm: Column = col("tf") * 2.2 /
    (col("tf") + lit(1.2) * (lit(1) - 0.75 + lit(0.75) * col("dl") /
      (col("n_toks").cast("double") / col("n_docs"))))

  /** BM25 per-document scores (doc_id, bm25) for `terms` — the scoring
    * base shared by q146 and the q147 hybrid fusion (which re-ranks it
    * against a vector list). Per-term contributions round at 6 decimals
    * and sum as DECIMAL (the [[graft.Det.rsum]] recipe) so the doc score
    * is order-independent. [[TextIndex.search]] replays the identical
    * arithmetic over persisted postings.
    */
  private[ops] def bm25Scores(s: SparkSession, d: String,
      terms: Seq[String] = BmQueryTerms): DataFrame = {
    // One explode pass (term-filtered, for tf) and one narrow projection
    // (dl = token count per doc, no explode): df is tf's row count per
    // term (tf is unique per (doc, term)) and n_toks is Σdl, so neither
    // re-reads the corpus — the naive form plans the tokenize subtree 4×.
    // tf is checkpointed (it is query-terms-sized, never corpus-sized)
    // because the tf and df branches otherwise canonicalize differently
    // and AQE's exchange reuse won't dedupe the tokenize pass (q103's
    // vocabulary-pass precedent).
    val docs = Tables.documents(s, d)
    val tf = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val dl = docs.select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("dl"))
    val gt = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("n_toks"))
    tf.join(broadcast(dfreq), Seq("term"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(gt))
      .select(col("doc_id"), round(bmIdf * bmTfNorm, 6).as("sc"))
      .groupBy(col("doc_id"))
      .agg(sum(col("sc").cast(DecimalType(28, 6))).cast("double").as("bm25"))
  }

  /** Oracle CTE chain computing BM25 scores into `agg(doc_id, bm25)` —
    * generated (never copied) so q146 and q147 express the identical
    * scoring semantics; the [[LshGuard.capCteSql]] precedent.
    */
  private[ops] def bm25AggCtes(terms: Seq[String], src: String = "documents"): String = {
    val in = terms.map(t => s"'$t'").mkString(", ")
    s"""toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM $src),
       |tf AS (
       |  SELECT doc_id, term, COUNT(*) AS tf FROM toks
       |  WHERE term IN ($in) GROUP BY doc_id, term),
       |dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
       |df AS (
       |  SELECT term, COUNT(DISTINCT doc_id) AS df FROM toks
       |  WHERE term IN ($in) GROUP BY term),
       |g AS (SELECT COUNT(*) AS n_docs FROM $src),
       |t AS (SELECT COUNT(*) AS n_toks FROM toks),
       |scored AS (
       |  SELECT tf.doc_id,
       |    ROUND(ln((g.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
       |      * (tf.tf * 2.2 / (tf.tf + 1.2 * (1 - 0.75
       |          + 0.75 * dl.dl / (CAST(t.n_toks AS DOUBLE) / g.n_docs)))), 6) AS sc
       |  FROM tf JOIN df USING (term) JOIN dl USING (doc_id)
       |  CROSS JOIN g CROSS JOIN t),
       |agg AS (
       |  SELECT doc_id, CAST(SUM(CAST(sc AS DECIMAL(28,6))) AS DOUBLE) AS bm25
       |  FROM scored GROUP BY doc_id)""".stripMargin
  }

  /** Okapi BM25 over whitespace tokens: score(d) = Σ_t idf(t) ·
    * tf·(k1+1) / (tf + k1·(1 − b + b·|d|/avgdl)), idf = ln((N−df+0.5)/
    * (df+0.5)+1). Per-term contributions round at 6 decimals and sum as
    * DECIMAL (the [[graft.Det.rsum]] recipe) so the doc score is
    * order-independent.
    */
  val bm25 = Q(
    "q146_bm25_retrieval",
    s"""WITH ${bm25AggCtes(BmQueryTerms)},
       |r AS (
       |  SELECT doc_id, bm25,
       |    CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS INTEGER) AS rnk
       |  FROM agg QUALIFY rnk <= 10)
       |SELECT rnk, doc_id, bm25 FROM r ORDER BY rnk""".stripMargin) { (s, d) =>
    val wk = Window.orderBy(col("bm25").desc, col("doc_id"))
    bm25Scores(s, d)
      .withColumn("rnk", row_number().over(wk))
      .filter(col("rnk") <= 10)
      .select(col("rnk"), col("doc_id"), col("bm25"))
      .orderBy(col("rnk"))
  }

  val specs: Seq[Q] = Seq(sq8Search, bm25)
}
