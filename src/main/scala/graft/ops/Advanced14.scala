package graft.ops

import graft.{Q, Tables}
import graft.functions.{CosineSim, DotProduct}
import graft.functions.VectorFunctions.asDouble
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Round-6 continuation: the two serving-side retrieval shapes that
  * complete the q146/q34 families.
  *
  *  - q147 HYBRID retrieval (reciprocal-rank fusion): the standard way
  *    production search serves "BM25 + vectors" — run both retrievers to
  *    depth K, fuse by Σ 1/(60+rank) (Cormack et al.'s RRF), which needs
  *    no score calibration between the two scales. Contributions are
  *    exact 6-decimal values summed as DECIMAL, so fusion is
  *    order-independent and oracle-checkable.
  *  - q148 FILTERED ANN: similarity search under a metadata predicate
  *    (here: candidates must share the query's label — the ACL/tenant/
  *    language filter every production vector store exposes). The filter
  *    is applied BEFORE the distance pass, as an equi-join on the
  *    predicate key, never as a post-filter that k-starves the result.
  *
  * At 100 TB: q147's corpus cost is exactly the two retriever scans —
  * the fusion itself is a K-row full-outer join of two broadcastable
  * rank lists. q148's predicate prunes the candidate scan (label is a
  * partition/bucket key in a real deployment, so pruning happens at the
  * source); the index-served form is [[AnnIndex.search]] with `allowed`,
  * which confines the ADC scan to probed-list ∩ allow-list members.
  */
object Advanced14 {

  /** RRF constant — 60 per the original paper; rank contributions are
    * ROUND(1/(60+r), 6) so both engines fuse identical decimals.
    */
  private val FuseK = 60
  private val ListDepth = 20

  private def rrfContrib(rank: Column): Column =
    coalesce(round(lit(1.0) / (lit(FuseK) + rank), 6), lit(0.0))
      .cast(DecimalType(10, 6))

  /** RRF fusion of two rank lists `lex(l_id, lex_rnk)` / `sem(s_id,
    * sem_rnk)` → top-k (rnk, doc_id, rrf, lex_rnk, sem_rnk). Both sides
    * are retriever-depth-sized, so the full-outer join is rank-list-
    * sized regardless of corpus scale. Shared by q147 and
    * [[graft.RetrievalPipeline]] (which fuses index-served lists).
    */
  private[graft] def fuseRrf(lex: DataFrame, sem: DataFrame, k: Int): DataFrame = {
    val wr = Window.orderBy(col("rrf").desc, col("doc_id"))
    lex.join(sem, col("l_id") === col("s_id"), "full_outer")
      .select(coalesce(col("l_id"), col("s_id")).as("doc_id"),
        (rrfContrib(col("lex_rnk")) + rrfContrib(col("sem_rnk")))
          .cast("double").as("rrf"),
        col("lex_rnk"), col("sem_rnk"))
      .withColumn("rnk", row_number().over(wr))
      .filter(col("rnk") <= k)
      .select(col("rnk"), col("doc_id"), col("rrf"), col("lex_rnk"), col("sem_rnk"))
  }

  /** Exact top-k neighbor set (qid, cand) by 6-decimal-rounded squared
    * L2 (cand tiebreak, self excluded) for queries vec_id < nq — the
    * ground-truth side of [[rankingMetrics]], shared by q150 and the
    * retrieval pipeline's eval stage.
    */
  private[graft] def exactTopK(e: DataFrame, nq: Int, k: Int): DataFrame = {
    val q = e.filter(col("vec_id") < nq)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val we = Window.partitionBy(col("qid")).orderBy(col("rdist"), col("cand"))
    e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cand"),
        round(DotProduct.dot(col("qv"), col("qv")) + DotProduct.dot(col("v"), col("v"))
          - lit(2) * DotProduct.dot(col("qv"), col("v")), 6).as("rdist"))
      .withColumn("ernk", row_number().over(we))
      .filter(col("ernk") <= k)
      .select(col("qid"), col("cand"))
  }

  /** Hybrid search: BM25 (q146's scoring base, terms 'dup vector spark')
    * fused with cosine ranks for query vector 0 over the embeddings
    * table (doc_id ↔ vec_id is the corpus key). Top-10 by RRF with the
    * per-retriever ranks carried for interpretability (null = the doc
    * was outside that retriever's top-20).
    */
  val hybridRrf = Q(
    "q147_hybrid_rrf",
    s"""WITH ${Advanced13.bm25AggCtes(Advanced13.BmQueryTerms)},
       |lex AS (
       |  SELECT doc_id AS l_id,
       |    CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS INTEGER) AS lex_rnk
       |  FROM agg QUALIFY lex_rnk <= $ListDepth),
       |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |qv AS (SELECT v AS qv FROM e WHERE vec_id = 0),
       |sims AS (
       |  SELECT vec_id,
       |    ROUND(list_dot_product(v, qv)
       |      / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 6) AS sim
       |  FROM e CROSS JOIN qv),
       |sem AS (
       |  SELECT vec_id AS s_id,
       |    CAST(ROW_NUMBER() OVER (ORDER BY sim DESC, vec_id) AS INTEGER) AS sem_rnk
       |  FROM sims QUALIFY sem_rnk <= $ListDepth),
       |fused AS (
       |  SELECT COALESCE(l_id, s_id) AS doc_id,
       |    CAST(CAST(COALESCE(ROUND(1.0 / ($FuseK + lex_rnk), 6), 0) AS DECIMAL(10,6))
       |       + CAST(COALESCE(ROUND(1.0 / ($FuseK + sem_rnk), 6), 0) AS DECIMAL(10,6))
       |      AS DOUBLE) AS rrf,
       |    lex_rnk, sem_rnk
       |  FROM lex FULL JOIN sem ON l_id = s_id),
       |r AS (
       |  SELECT doc_id, rrf, lex_rnk, sem_rnk,
       |    CAST(ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id) AS INTEGER) AS rnk
       |  FROM fused QUALIFY rnk <= 10)
       |SELECT rnk, doc_id, rrf, lex_rnk, sem_rnk FROM r ORDER BY rnk""".stripMargin) { (s, d) =>
    val wl = Window.orderBy(col("bm25").desc, col("doc_id"))
    val lex = Advanced13.bm25Scores(s, d)
      .withColumn("lex_rnk", row_number().over(wl))
      .filter(col("lex_rnk") <= ListDepth)
      .select(col("doc_id").as("l_id"), col("lex_rnk"))
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val qv = e.filter(col("vec_id") === 0).select(col("v").as("qv"))
    val ws = Window.orderBy(col("sim").desc, col("vec_id"))
    val sem = e.crossJoin(broadcast(qv))
      .select(col("vec_id"), round(CosineSim.cosine(col("v"), col("qv")), 6).as("sim"))
      .withColumn("sem_rnk", row_number().over(ws))
      .filter(col("sem_rnk") <= ListDepth)
      .select(col("vec_id").as("s_id"), col("sem_rnk"))
    fuseRrf(lex, sem, 10).orderBy(col("rnk"))
  }

  /** One persisted BM25 text index per (session, corpus) — the
    * [[graft.Shared]] temp-dir pattern q202's ANN twin uses — so q205's
    * steady reps measure the SERVE path, not rebuilds.
    */
  private def sharedTextIndexDir(s: org.apache.spark.sql.SparkSession,
      d: String): String = {
    import s.implicits._
    graft.Shared.materialized(s, s"textix-shared-$d") {
      val tmp = graft.TempDirs.create("graft-textix")
      TextIndex.write(s, d, tmp)
      Seq(tmp).toDF("dir")
    }.collect()(0).getString(0)
  }

  /** q205: the INDEX-SERVED hybrid — q147's RRF fusion with BOTH rank
    * lists coming off persisted indexes through the real serve APIs:
    * the lexical list from [[TextIndex.search]] (bucket-pruned BM25 —
    * exact, so it reproduces q147's lex ranks verbatim) and the
    * semantic list from [[AnnIndex.search]] (nprobe-confined ADC over
    * the fixed-16 layout q202 also serves from). The ADC approximation
    * IS the serve semantics — an exact cosine list would re-scan the
    * corpus per query, which is precisely what a serving deployment
    * cannot do — so the oracle replays the SERVED chain from raw
    * tables (BM25 CTEs + the q140-family train/probe/PQ/ADC CTEs at
    * the same nprobe, then the q147 fusion arithmetic) and never sees
    * either index: a drifted text posting, a stale centroid table, or
    * a fusion-order bug all surface as a hash mismatch. Serve cost =
    * two rank lists (bucket-pruned postings; probed-list ADC) + a
    * 20-row fusion join — never a corpus scan.
    */
  val hybridServed = Q(
    "q205_hybrid_served",
    (s"""WITH ${Advanced13.bm25AggCtes(Advanced13.BmQueryTerms)},
       |lex AS (
       |  SELECT doc_id AS l_id,
       |    CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS INTEGER) AS lex_rnk
       |  FROM agg QUALIFY lex_rnk <= $ListDepth),
       |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |${Quantizer.centroidTrainCtes(16, "e")},
       |${Quantizer.ivfProbeCtes(4, 1)},
       |${Quantizer.ivfCandCte(keepListId = false)},
       |${Quantizer.pqTrainCtes(8)},
       |${Advanced8.pqPkCteSql},
       |codes AS (SELECT vec_id, b, CAST(MIN(pk) % 100 AS INTEGER) AS code
       |          FROM pk GROUP BY vec_id, b),
       |dtab AS (
       |  SELECT s.vec_id AS qid, b, cid,
       |    ${Advanced8.distMicroSql("sv", "cv")} AS dm
       |  FROM sub s JOIN ${Quantizer.pqFinal} USING (b) WHERE s.vec_id < 1),
       |ad AS (
       |  SELECT x.qid, x.cand, CAST(SUM(d.dm) AS BIGINT) AS adist_micro
       |  FROM candp x
       |  JOIN codes cd ON cd.vec_id = x.cand
       |  JOIN dtab d ON d.qid = x.qid AND d.b = cd.b AND d.cid = cd.code
       |  GROUP BY x.qid, x.cand),
       |sem AS (
       |  SELECT cand AS s_id,
       |    CAST(ROW_NUMBER() OVER (ORDER BY adist_micro, cand) AS INTEGER) AS sem_rnk
       |  FROM ad QUALIFY sem_rnk <= $ListDepth),
       |fused AS (
       |  SELECT COALESCE(l_id, s_id) AS doc_id,
       |    CAST(CAST(COALESCE(ROUND(1.0 / ($FuseK + lex_rnk), 6), 0) AS DECIMAL(10,6))
       |       + CAST(COALESCE(ROUND(1.0 / ($FuseK + sem_rnk), 6), 0) AS DECIMAL(10,6))
       |      AS DOUBLE) AS rrf,
       |    lex_rnk, sem_rnk
       |  FROM lex FULL JOIN sem ON l_id = s_id),
       |r AS (
       |  SELECT doc_id, rrf, lex_rnk, sem_rnk,
       |    CAST(ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id) AS INTEGER) AS rnk
       |  FROM fused QUALIFY rnk <= 10)
       |SELECT rnk, doc_id, rrf, lex_rnk, sem_rnk FROM r ORDER BY rnk""").stripMargin) { (s, d) =>
    val lex = TextIndex.search(s, TextIndex.load(s, sharedTextIndexDir(s, d)),
        Advanced13.BmQueryTerms, ListDepth)
      .select(col("doc_id").as("l_id"), col("rnk").as("lex_rnk"))
    val aix = AnnIndex.load(s, Advanced20.sharedFixedIndexDir(s, d))
    val queries = Tables.embeddings(s, d).filter(col("vec_id") === 0)
      .select(col("vec_id").as("qid"), asDouble(col("embedding")).as("v"))
    val sem = AnnIndex.search(s, aix, queries, nprobe = 4, k = ListDepth,
        excludeSelf = true)
      .select(col("cand").as("s_id"), col("rnk").as("sem_rnk"))
    fuseRrf(lex, sem, 10).orderBy(col("rnk"))
  }

  /** Predicate-filtered similarity search: cosine top-3 for queries
    * vec_id < 5 among candidates sharing the query's label. The
    * predicate rides the join condition (an equi-join key), so the
    * distance kernel only ever sees qualifying candidates.
    */
  val filteredAnn = Q(
    "q148_filtered_ann",
    """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |q AS (SELECT vec_id AS qid, label AS qlabel, v AS qv FROM e WHERE vec_id < 5),
      |sims AS (
      |  SELECT qid, e.vec_id AS cand,
      |    ROUND(list_dot_product(qv, v)
      |      / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))), 6) AS sim
      |  FROM q JOIN e ON e.label = q.qlabel AND e.vec_id <> qid),
      |r AS (
      |  SELECT qid, cand, sim,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cand) AS INTEGER) AS rnk
      |  FROM sims QUALIFY rnk <= 3)
      |SELECT qid, rnk, cand, sim FROM r ORDER BY qid, rnk""".stripMargin) { (s, d) =>
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v"))
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("label").as("qlabel"), col("v").as("qv"))
    val sims = e.join(broadcast(q),
        col("label") === col("qlabel") && col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cand"),
        round(CosineSim.cosine(col("qv"), col("v")), 6).as("sim"))
    val wk = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("cand"))
    sims.withColumn("rnk", row_number().over(wk))
      .filter(col("rnk") <= 3)
      .select(col("qid"), col("rnk"), col("cand"), col("sim"))
      .orderBy(col("qid"), col("rnk"))
  }

  /** Exact-phrase occurrence counts from positional postings: postings
    * for each phrase term, shifted to the phrase start position and
    * chained through (doc_id, pos) equi-joins — the standard positional-
    * index phrase plan. Each join side is df-bounded: over live
    * tokenization (q149) the term filter prunes directly after the
    * explode; over [[TextIndex]]'s persisted positions the predicate
    * reaches the parquet scan (TextIndexSpec asserts it), so serve cost
    * follows the rarest term's posting list, never the corpus.
    */
  private[graft] def phraseHits(toks: DataFrame, phrase: Seq[String]): DataFrame = {
    val first = toks.filter(col("term") === phrase.head)
      .select(col("doc_id"), col("pos"))
    phrase.zipWithIndex.tail.foldLeft(first) { case (acc, (t, i)) =>
      acc.join(toks.filter(col("term") === t)
        .select(col("doc_id"), (col("pos") - i).as("pos")), Seq("doc_id", "pos"))
    }.groupBy(col("doc_id")).agg(count(lit(1)).as("n_hits"))
  }

  private[graft] val PhraseTerms = Seq("table", "hash")

  /** q149: all documents containing the exact phrase "table hash", with
    * occurrence counts. The library form ([[phraseHits]]) takes any
    * phrase length — the fold emits one shifted-position equi-join per
    * extra term.
    */
  val phraseSearch = Q(
    "q149_phrase_search", {
      val termCtes = PhraseTerms.zipWithIndex.map { case (t, i) =>
        s"t$i AS (SELECT doc_id, pos - $i AS pos FROM toks WHERE term = '$t')"
      }.mkString(",\n")
      val joins = (1 until PhraseTerms.length)
        .map(i => s"JOIN t$i USING (doc_id, pos)").mkString(" ")
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS term,
         |         generate_subscripts(string_split(text, ' '), 1) AS pos
         |  FROM documents),
         |$termCtes,
         |m AS (SELECT doc_id, pos FROM t0 $joins)
         |SELECT doc_id, COUNT(*) AS n_hits FROM m GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin
    }) { (s, d) =>
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "term")))
    phraseHits(toks, PhraseTerms).orderBy(col("doc_id"))
  }

  /** Per-query retrieval-quality metrics for a system ranking against a
    * ground-truth set: reciprocal rank of the first relevant hit (0 if
    * none) and recall@k — the eval harness every ANN/retrieval deploy
    * runs before trusting an index. `ranking` is (qid, rnk, cand),
    * `truth` is (qid, cand); both sides are top-k-sized, so the join and
    * the aggregate are rank-list-sized, never corpus-sized.
    */
  private[graft] def rankingMetrics(ranking: DataFrame, truth: DataFrame,
      k: Int): DataFrame =
    ranking.join(truth.withColumn("hit", lit(1)), Seq("qid", "cand"), "left")
      .groupBy(col("qid"))
      .agg(
        round(coalesce(lit(1.0) / min(when(col("hit") === 1, col("rnk"))), lit(0.0)), 6)
          .as("rr"),
        round(sum(coalesce(col("hit"), lit(0))) / (1.0 * k), 6).as(s"recall$k"))

  /** q150: MRR + recall@3 of the SQ8 quantized ranking (q145's dataflow,
    * self-matches excluded) against the exact double-precision scan —
    * quantizer quality measured in retrieval terms, per query. The
    * exact side ranks on the 6-decimal-rounded distance (cand tiebreak)
    * so ordering is engine-stable.
    */
  val retrievalEval = Q(
    "q150_retrieval_eval",
    s"""WITH ${Advanced13.sq8RankCtes(5, 3, excludeSelf = true)},
       |exact AS (
       |  SELECT qid, cand FROM (
       |    SELECT q.vec_id AS qid, c.vec_id AS cand,
       |      CAST(ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
       |        ROUND(list_dot_product(q.v, q.v) + list_dot_product(c.v, c.v)
       |          - 2 * list_dot_product(q.v, c.v), 6), c.vec_id) AS INTEGER) AS ernk
       |    FROM e q CROSS JOIN e c
       |    WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id) t
       |  WHERE ernk <= 3),
       |hits AS (
       |  SELECT r.qid, r.rnk,
       |    CASE WHEN exact.cand IS NOT NULL THEN 1 ELSE 0 END AS hit
       |  FROM r LEFT JOIN exact ON exact.qid = r.qid AND exact.cand = r.cand),
       |m AS (
       |  SELECT qid,
       |    ROUND(COALESCE(1.0 / MIN(CASE WHEN hit = 1 THEN rnk END), 0), 6) AS rr,
       |    ROUND(SUM(hit) / 3.0, 6) AS recall3
       |  FROM hits GROUP BY qid)
       |SELECT qid, rr, recall3 FROM m ORDER BY qid""".stripMargin) { (s, d) =>
    val sys = Advanced13.sq8Ranking(s, d, nq = 5, k = 3, excludeSelf = true)
      .select(col("qid"), col("rnk"), col("cand"))
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    rankingMetrics(sys, exactTopK(e, nq = 5, k = 3), k = 3).orderBy(col("qid"))
  }

  val specs: Seq[Q] = Seq(hybridRrf, filteredAnn, phraseSearch, retrievalEval,
    hybridServed)
}
