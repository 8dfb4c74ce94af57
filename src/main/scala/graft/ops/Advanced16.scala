package graft.ops

import graft.{Q, Tables}
import graft.functions.{CosineSim, DotProduct}
import graft.functions.VectorFunctions.asDouble
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Round-11 continuation: the serving-side retrieval shapes a training/
  * RAG data platform runs on top of the q34/q146 retriever families, plus
  * the deterministic export manifest that ships a corpus to trainers.
  *
  *  - q170 LATE-INTERACTION (MaxSim) scoring: multi-vector retrieval à la
  *    ColBERT — each document carries a BAG of sub-vectors, the score is
  *    Σ_qtok max_dtok ⟨q_tok, d_tok⟩. The testdata stores one 64-dim
  *    vector per doc, so the 8×8-dim sub-vector bag is derived by
  *    deterministic slicing (production stores real token vectors as an
  *    `array<array<float>>` column; the scoring algebra is identical).
  *    The whole 64-dot MaxSim folds into ONE codegen'd projection per
  *    (query, candidate) pair — no explode, no extra shuffle; the only
  *    shuffle is the final per-query top-k.
  *  - q171 MATRYOSHKA two-stage search: score on a PREFIX of the
  *    embedding (MRL-style truncation — dims 1..16), shortlist, then
  *    re-rank the shortlist on the full vector. At 100 TB the prefix is
  *    stored as its own column so stage 1 reads ¼ of the vector bytes
  *    (column pruning does the work); stage 2 re-reads full vectors for
  *    only shortlist·|queries| rows via an equi-join, never rescanning
  *    the corpus.
  *  - q172 SHARD-EXPORT MANIFEST: the deterministic per-shard receipt
  *    (counts, token totals, id range, content checksum) emitted when a
  *    corpus ships to a trainer. Shard = salted-md5(doc_id) % 16 — pure
  *    projection, content-independent, stable under repartition; the
  *    checksum sums a 48-bit md5 prefix of each document's text as exact
  *    DECIMAL so it is order-independent and verifiable shard-by-shard
  *    by the receiving side. One map-side-combinable groupBy; nothing
  *    corpus-sized crosses the wire but the 16-row manifest.
  *  - q173 CONTEXT PACKING: fill a fixed token budget with retrieved
  *    documents in rank order (the RAG serving step after retrieval) —
  *    rank-ordered running token sum per query, cut at the budget. The
  *    window runs over the top-20 shortlist, never the corpus.
  *  - q174 NDCG ranking eval: graded-relevance NDCG@5 of the cheap
  *    prefix-16 ranking against the full-precision ranking — the metric
  *    that decides whether the matryoshka prefix is good enough to serve
  *    stage 1 (complements q150's binary MRR/recall). Truth grade =
  *    6 − exact_rank; every contribution is 6-decimal-rounded and summed
  *    as DECIMAL so DCG is order-independent cross-engine.
  *
  * All cosine/dot math uses the codegen'd [[DotProduct]]/[[CosineSim]]
  * expressions (double, sequential summation — bit-identical to DuckDB's
  * `list_dot_product`), rounded at 6 decimals before any ordering or sum.
  */
object Advanced16 {

  private def emb(s: SparkSession, d: String): DataFrame = {
    Tables.embeddings(s, d).select(col("vec_id"), asDouble(col("embedding")).as("v"))
  }

  // ---------------------------------------------------------------- q170

  private val SubVecs = 8  // sub-vectors per document
  private val SubDim  = 8  // dims per sub-vector (SubVecs*SubDim = 64)

  /** Spark-side MaxSim: Σ_qt greatest_dt round(dot(q[qt], c[dt]), 6) as
    * exact DECIMAL(18,6) addition, cast double. One flat expression —
    * 64 sub-dots, 8 `greatest`, 7 adds — all inside whole-stage codegen.
    */
  private def maxSimCol(q: Column, c: Column): Column = {
    def sub(v: Column, i: Int) = slice(v, i * SubDim + 1, SubDim)
    (0 until SubVecs).map { qt =>
      greatest((0 until SubVecs).map(dt =>
        round(DotProduct.dot(sub(q, qt), sub(c, dt)), 6)): _*).cast(DecimalType(18, 6))
    }.reduce(_ + _).cast("double")
  }

  /** Identical algebra in DuckDB list syntax (1-based inclusive slices). */
  private def maxSimSql(q: String, c: String): String = {
    val terms = (0 until SubVecs).map { qt =>
      val dots = (0 until SubVecs).map { dt =>
        s"ROUND(list_dot_product($q[${qt * SubDim + 1}:${(qt + 1) * SubDim}], " +
          s"$c[${dt * SubDim + 1}:${(dt + 1) * SubDim}]), 6)"
      }.mkString(", ")
      s"CAST(GREATEST($dots) AS DECIMAL(18,6))"
    }.mkString(" + ")
    s"CAST($terms AS DOUBLE)"
  }

  /** Library form: MaxSim top-k of `queries(qid, qv)` against `cands
    * (vec_id, v)`, both holding SubVecs·SubDim-dim vectors. The query
    * side broadcasts; the candidate scan is the only corpus-sized pass.
    */
  private[graft] def lateInteractionTopK(cands: DataFrame, queries: DataFrame,
      k: Int): DataFrame = {
    val scored = cands.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cand"),
        maxSimCol(col("qv"), col("v")).as("maxsim"))
    val w = Window.partitionBy(col("qid")).orderBy(col("maxsim").desc, col("cand"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("rnk"), col("cand"), col("maxsim"))
  }

  /** q170: MaxSim top-10 for query vectors vec_id < 3 over the whole
    * embeddings table, sub-vector bags derived by slicing (see object
    * doc). Self-matches excluded.
    */
  val lateInteraction = Q(
    "q170_late_interaction",
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 3),
       |scored AS (
       |  SELECT qid, e.vec_id AS cand, ${maxSimSql("qv", "v")} AS maxsim
       |  FROM q CROSS JOIN e WHERE e.vec_id <> qid),
       |r AS (
       |  SELECT qid, cand, maxsim,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY maxsim DESC, cand) AS INTEGER) AS rnk
       |  FROM scored QUALIFY rnk <= 10)
       |SELECT qid, rnk, cand, maxsim FROM r ORDER BY qid, rnk""".stripMargin) { (s, d) =>
    val e = emb(s, d)
    val q = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    lateInteractionTopK(e, q, 10).orderBy(col("qid"), col("rnk"))
  }

  // ---------------------------------------------------------------- q171

  private val PrefixDims = 16
  private val Shortlist  = 40

  private def cosSql(a: String, b: String): String =
    s"ROUND(list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b))), 6)"

  /** Library form of the two-stage matryoshka search: prefix-cosine
    * shortlist of `shortlist` per query, full-vector re-rank to `k`.
    * Stage 2 re-joins the candidate store by id — shortlist-sized, so
    * the full-width vectors never ride the stage-1 shuffle.
    */
  private[graft] def matryoshkaSearch(e: DataFrame, queries: DataFrame,
      prefixDims: Int, shortlist: Int, k: Int): DataFrame = {
    val wp = Window.partitionBy(col("qid")).orderBy(col("psim").desc, col("cand"))
    val stage1 = e.select(col("vec_id"), expr(s"slice(v, 1, $prefixDims)").as("vp"))
      .crossJoin(broadcast(queries
        .select(col("qid"), expr(s"slice(qv, 1, $prefixDims)").as("qp"))))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cand"),
        round(CosineSim.cosine(col("qp"), col("vp")), 6).as("psim"))
      .withColumn("prnk", row_number().over(wp))
      .filter(col("prnk") <= shortlist)
    val wf = Window.partitionBy(col("qid")).orderBy(col("fsim").desc, col("cand"))
    stage1
      .join(e.select(col("vec_id").as("cand"), col("v").as("cv")), Seq("cand"))
      .join(queries, Seq("qid"))
      .select(col("qid"), col("cand"), col("psim"),
        round(CosineSim.cosine(col("qv"), col("cv")), 6).as("fsim"))
      .withColumn("rnk", row_number().over(wf))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("rnk"), col("cand"), col("fsim"), col("psim"))
  }

  /** q171: matryoshka search for queries vec_id < 8 — prefix-16 cosine
    * top-40 shortlist, full-64 re-rank top-5. Carries both scores so the
    * stage-1/stage-2 disagreement is visible in the result.
    */
  val matryoshkaRerank = Q(
    "q171_matryoshka_rerank",
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 8),
       |s1 AS (
       |  SELECT qid, e.vec_id AS cand,
       |    ${cosSql(s"qv[1:$PrefixDims]", s"v[1:$PrefixDims]")} AS psim
       |  FROM q CROSS JOIN e WHERE e.vec_id <> qid),
       |short AS (
       |  SELECT qid, cand, psim,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY psim DESC, cand) AS INTEGER) AS prnk
       |  FROM s1 QUALIFY prnk <= $Shortlist),
       |s2 AS (
       |  SELECT short.qid, short.cand, short.psim,
       |    ${cosSql("q.qv", "c.v")} AS fsim
       |  FROM short JOIN e c ON c.vec_id = short.cand JOIN q ON q.qid = short.qid),
       |r AS (
       |  SELECT qid, cand, fsim, psim,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY fsim DESC, cand) AS INTEGER) AS rnk
       |  FROM s2 QUALIFY rnk <= 5)
       |SELECT qid, rnk, cand, fsim, psim FROM r ORDER BY qid, rnk""".stripMargin) { (s, d) =>
    val e = emb(s, d)
    val q = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    matryoshkaSearch(e, q, PrefixDims, Shortlist, 5).orderBy(col("qid"), col("rnk"))
  }

  // ---------------------------------------------------------------- q172

  private val NumShards = 16

  /** q172: deterministic 16-shard export manifest over `documents`.
    * Shard assignment salts the md5 ('shard:' prefix — disjoint from
    * every other hash-slice family in the registry), so it is
    * independent of the q87 split / q60 sample memberships.
    *
    * The per-shard content checksum is an XOR-fold (`bit_xor`) of each
    * document's 48-bit md5 prefix: order-independent, BIGINT-exact in
    * both engines, and — because XOR never leaves the 48-bit domain —
    * the value stays below 2^53, so it survives ANY reader
    * canonicalization (including a float64 path) bit-exactly. The
    * previous DECIMAL(38,0) SUM carried integers past 2^53 and failed
    * the driver's hash gate despite exact cell-level equality
    * (round-11 adjudication).
    */
  val shardManifest = Q(
    "q172_shard_manifest",
    s"""WITH s AS (
       |  SELECT doc_id, text, n_chars,
       |    ('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT % $NumShards AS shard
       |  FROM documents)
       |SELECT shard,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_toks,
       |  CAST(MIN(doc_id) AS BIGINT) AS min_doc,
       |  CAST(MAX(doc_id) AS BIGINT) AS max_doc,
       |  bit_xor(('0x' || substr(md5(text), 1, 12))::BIGINT) AS checksum
       |FROM s GROUP BY shard ORDER BY shard""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .withColumn("shard",
        expr(s"CAST(conv(substr(md5(concat('shard:', CAST(doc_id AS STRING))), 1, 7), 16, 10) AS BIGINT) % $NumShards"))
      .groupBy(col("shard"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("sum_chars"),
        sum(size(split(col("text"), " ")).cast("long")).as("sum_toks"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"),
        expr("bit_xor(CAST(conv(substr(md5(text), 1, 12), 16, 10) AS BIGINT))")
          .as("checksum"))
      .orderBy(col("shard"))
  }

  // ---------------------------------------------------------------- q173

  private val PackBudget    = 512
  private val PackShortlist = 20

  /** Library form: cut a per-query ranked shortlist `ranked(qid, rnk,
    * doc_id)` to a running token budget using `toks(doc_id, n_toks)`.
    * Prefix packing — documents enter in rank order until the budget is
    * exhausted (the first overflow stops the pack; no skip-and-continue,
    * which would be order-sensitive under near-budget ties).
    */
  private[graft] def packContext(ranked: DataFrame, toks: DataFrame,
      budget: Int): DataFrame = {
    val w = Window.partitionBy(col("qid")).orderBy(col("rnk"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked.join(toks, Seq("doc_id"))
      .withColumn("cum_toks", sum(col("n_toks")).over(w))
      .filter(col("cum_toks") <= budget)
  }

  /** q173: RAG context packing — cosine top-20 shortlist per query
    * (vec_id < 5), documents packed in rank order into a 512-token
    * budget. doc_id ↔ vec_id is the corpus key (q147's convention).
    */
  val contextPack = Q(
    "q173_context_pack",
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5),
       |sims AS (
       |  SELECT qid, e.vec_id AS doc_id, ${cosSql("qv", "v")} AS sim
       |  FROM q CROSS JOIN e WHERE e.vec_id <> qid),
       |short AS (
       |  SELECT qid, doc_id, sim,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, doc_id) AS INTEGER) AS rnk
       |  FROM sims QUALIFY rnk <= $PackShortlist),
       |toks AS (
       |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
       |  FROM documents),
       |packed AS (
       |  SELECT s.qid, s.rnk, s.doc_id, t.n_toks, s.sim,
       |    CAST(SUM(t.n_toks) OVER (PARTITION BY s.qid ORDER BY s.rnk
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_toks
       |  FROM short s JOIN toks t USING (doc_id))
       |SELECT qid, rnk, doc_id, n_toks, cum_toks, sim FROM packed
       |WHERE cum_toks <= $PackBudget ORDER BY qid, rnk""".stripMargin) { (s, d) =>
    val e = emb(s, d)
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val wr = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("doc_id"))
    val short = e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("doc_id"),
        round(CosineSim.cosine(col("qv"), col("v")), 6).as("sim"))
      .withColumn("rnk", row_number().over(wr))
      .filter(col("rnk") <= PackShortlist)
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_toks"))
    packContext(short, toks, PackBudget)
      .select(col("qid"), col("rnk"), col("doc_id"), col("n_toks"),
        col("cum_toks"), col("sim"))
      .orderBy(col("qid"), col("rnk"))
  }

  // ---------------------------------------------------------------- q174

  private val EvalK  = 5
  private val EvalNq = 8

  /** q174: graded-relevance NDCG@5 of the prefix-16 cosine ranking
    * against the full-64 exact ranking, queries vec_id < 8. Truth grade
    * = 6 − exact_rank (5…1); DCG contributions round at 6 decimals and
    * sum as DECIMAL (order-independent); ndcg = round(dcg/idcg, 6) on
    * the exact decimal quotients. The log2 discounts are engine-native:
    * all 25 possible (grade, rank) contributions sit ≥ 7e-9 from a
    * rounding boundary — 4 orders of magnitude beyond any libm ulp
    * disagreement (verified numerically at authoring time).
    */
  val ndcgEval = Q(
    "q174_ndcg_eval",
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < $EvalNq),
       |sys AS (
       |  SELECT qid, cand, rnk FROM (
       |    SELECT qid, e.vec_id AS cand,
       |      CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY
       |        ${cosSql(s"qv[1:$PrefixDims]", s"v[1:$PrefixDims]")} DESC, e.vec_id) AS INTEGER) AS rnk
       |    FROM q CROSS JOIN e WHERE e.vec_id <> qid) t
       |  WHERE rnk <= $EvalK),
       |truth AS (
       |  SELECT qid, cand, ${EvalK + 1} - ernk AS grade, ernk FROM (
       |    SELECT qid, e.vec_id AS cand,
       |      CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY
       |        ${cosSql("qv", "v")} DESC, e.vec_id) AS INTEGER) AS ernk
       |    FROM q CROSS JOIN e WHERE e.vec_id <> qid) t
       |  WHERE ernk <= $EvalK),
       |dcg AS (
       |  SELECT sys.qid,
       |    CAST(SUM(CAST(ROUND(COALESCE(truth.grade, 0) / log2(sys.rnk + 1), 6)
       |      AS DECIMAL(18,6))) AS DOUBLE) AS dcg
       |  FROM sys LEFT JOIN truth ON truth.qid = sys.qid AND truth.cand = sys.cand
       |  GROUP BY sys.qid),
       |idcg AS (
       |  SELECT qid,
       |    CAST(SUM(CAST(ROUND(grade / log2(ernk + 1), 6) AS DECIMAL(18,6))) AS DOUBLE) AS idcg
       |  FROM truth GROUP BY qid)
       |SELECT dcg.qid, dcg.dcg AS dcg, idcg.idcg AS idcg,
       |  ROUND(dcg.dcg / idcg.idcg, 6) AS ndcg
       |FROM dcg JOIN idcg ON idcg.qid = dcg.qid ORDER BY dcg.qid""".stripMargin) { (s, d) =>
    val e = emb(s, d)
    val q = e.filter(col("vec_id") < EvalNq)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val wp = Window.partitionBy(col("qid")).orderBy(col("psim").desc, col("cand"))
    val sys = e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cand"),
        round(CosineSim.cosine(slice(col("qv"), 1, PrefixDims), slice(col("v"), 1, PrefixDims)), 6)
          .as("psim"))
      .withColumn("rnk", row_number().over(wp))
      .filter(col("rnk") <= EvalK)
      .select(col("qid"), col("cand"), col("rnk"))
    val we = Window.partitionBy(col("qid")).orderBy(col("fsim").desc, col("cand"))
    val truth = e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cand"),
        round(CosineSim.cosine(col("qv"), col("v")), 6).as("fsim"))
      .withColumn("ernk", row_number().over(we))
      .filter(col("ernk") <= EvalK)
      .select(col("qid"), col("cand"), (lit(EvalK + 1) - col("ernk")).as("grade"),
        col("ernk"))
    def dsum6(c: Column): Column =
      sum(round(c, 6).cast(DecimalType(18, 6))).cast("double")
    val dcg = sys.join(truth.select(col("qid"), col("cand"), col("grade")),
        Seq("qid", "cand"), "left")
      .groupBy(col("qid"))
      .agg(dsum6(coalesce(col("grade"), lit(0)) / log2(col("rnk") + 1)).as("dcg"))
    val idcg = truth.groupBy(col("qid"))
      .agg(dsum6(col("grade") / log2(col("ernk") + 1)).as("idcg"))
    dcg.join(idcg, Seq("qid"))
      .select(col("qid"), col("dcg"), col("idcg"),
        round(col("dcg") / col("idcg"), 6).as("ndcg"))
      .orderBy(col("qid"))
  }

  // ---------------------------------------------------------------- q178

  /** Library form: MaxSim re-rank served over a persisted IVF index —
    * q170's scoring at corpus scale. Stage 1 is [[AnnIndex.search]]'s
    * codes-only ADC shortlist (probe count from the target fraction,
    * shortlist ∝ probes — q169's scaling); only shortlist rows fetch
    * raw vectors for the MaxSim stage, so the 64-sub-dot projection
    * runs on `queries × shortlist` rows, never the corpus. The
    * shortlist side carries q143's broadcast hints for the same reason
    * [[AnnIndex.searchRerank]]'s does.
    */
  private[graft] def maxSimRerank(s: SparkSession, ix: AnnIndex.Index,
      vectors: DataFrame, queries: DataFrame, k: Int, frac: Double,
      shortlistPerProbe: Int, excludeSelf: Boolean): DataFrame = {
    val np = AnnIndex.autoNprobe(ix, frac)
    val shortK = math.max(k, shortlistPerProbe * np)
    val short = AnnIndex.search(s, ix, queries, np, shortK, excludeSelf)
      .select(col("qid"), col("cand"))
    val withQ = broadcast(broadcast(short)
      .join(queries.select(col("qid"), col("v").as("qv")), Seq("qid")))
    val er = withQ
      .join(vectors.select(col("vec_id").as("cand"), col("v").as("cv")), Seq("cand"))
      .select(col("qid"), col("cand"), maxSimCol(col("qv"), col("cv")).as("maxsim"))
    val w = Window.partitionBy(col("qid")).orderBy(col("maxsim").desc, col("cand"))
    er.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("rnk"), col("cand"), col("maxsim"))
  }

  /** q178: [[maxSimRerank]] under the hard gate — q169's persisted
    * sample-trained lifecycle (the SAME session-shared writeScaled
    * layout; zero extra build) with the exact-cosine re-rank stage
    * swapped for q170's MaxSim algebra. The oracle replays q169's
    * chain through the ADC shortlist, then scores the shortlist with
    * the identical 8×8 sub-vector MaxSim expression ordered DESC —
    * so the one- and two-stage late-interaction paths share every CTE
    * up to the final scoring, and a drift names the stage.
    */
  val scaledMaxSim = Q(
    "q178_scaled_maxsim",
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |prm AS (SELECT GREATEST(1, COUNT(*) // ${50 * 32}) AS m FROM e),
      |samp AS (
      |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS vec_id, v
      |  FROM e, prm
      |  WHERE ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 7))::BIGINT % m = 0),
      |${Quantizer.centroidTrainCtes(32, "samp")},
      |${Quantizer.ivfProbeCtes(math.ceil(0.2 * 32).toInt, 5)},
      |${Quantizer.ivfCandCte(keepListId = false)},
      |${Quantizer.pqTrainCtes(8)},
      |${Advanced8.pqPkCteSql},
      |codes AS (SELECT vec_id, b, CAST(MIN(pk) % 100 AS INTEGER) AS code
      |          FROM pk GROUP BY vec_id, b),
      |dtab AS (
      |  SELECT s.vec_id AS qid, b, cid,
      |    ${Advanced8.distMicroSql("sv", "cv")} AS dm
      |  FROM sub s JOIN ${Quantizer.pqFinal} USING (b) WHERE s.vec_id < 5),
      |ad AS (
      |  SELECT x.qid, x.cand, CAST(SUM(d.dm) AS BIGINT) AS adist_micro
      |  FROM candp x
      |  JOIN codes cd ON cd.vec_id = x.cand
      |  JOIN dtab d ON d.qid = x.qid AND d.b = cd.b AND d.cid = cd.code
      |  GROUP BY x.qid, x.cand),
      |short AS (
      |  SELECT qid, cand,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY qid
      |      ORDER BY adist_micro, cand) AS INTEGER) AS srnk
      |  FROM ad QUALIFY srnk <= ${64 * math.ceil(0.2 * 32).toInt}),
      |er AS (
      |  SELECT sh.qid, sh.cand, ${maxSimSql("q.v", "c.v")} AS maxsim
      |  FROM short sh JOIN e q ON q.vec_id = sh.qid JOIN e c ON c.vec_id = sh.cand),
      |r AS (
      |  SELECT qid, cand, maxsim,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY qid
      |      ORDER BY maxsim DESC, cand) AS INTEGER) AS rnk
      |  FROM er QUALIFY rnk <= 3)
      |SELECT qid, rnk, cand, maxsim FROM r ORDER BY qid, rnk""".stripMargin) { (s, d) =>
    val ix = AnnIndex.load(s, AnnIndex.sharedScaledDir(s, d, 32))
    val e = emb(s, d)
    val queries = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("v"))
    maxSimRerank(s, ix, e, queries, k = 3, frac = 0.2,
        shortlistPerProbe = 64, excludeSelf = true)
      .orderBy(col("qid"), col("rnk"))
  }

  val specs: Seq[Q] = Seq(lateInteraction, matryoshkaRerank, shardManifest,
    contextPack, ndcgEval, scaledMaxSim)
}
