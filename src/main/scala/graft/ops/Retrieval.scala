package graft.ops

import graft.{Det, Q, Shared, Tables}
import graft.functions.{CosineSim, DotProduct, OuterUpper, SqEncode}
import graft.functions.VectorFunctions.asDouble
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Vector, lexical and hybrid retrieval plus retrieval evaluation:
  * IVF / PQ / SQ8 / ADC vector search, the Lloyd k-means pass the
  * quantizers share ([[Quantizer]]), embedding moments, TF-IDF, BM25 and
  * the inverted index, phrase search, reciprocal-rank fusion, filtered
  * ANN, late-interaction MaxSim and Matryoshka reranking, and the
  * recall / MRR / NDCG evaluation queries.
  */
object Retrieval {

  /** TF-IDF top-3 terms per document (doc_id < 50 for bounded output).
    * idf = ln((N+1)/(df+1)); corpus size N joins in via a broadcast
    * 1-row aggregate, never a driver-side collect.
    */
  val tfidf = Q(
    "q48_tfidf",
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |tf AS (
      |  SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
      |df AS (
      |  SELECT term, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY term),
      |n AS (SELECT COUNT(*) AS n_docs FROM documents),
      |scored AS (
      |  SELECT tf.doc_id, tf.term,
      |    ROUND(tf.tf * ln((n.n_docs + 1.0) / (df.df + 1.0)), 6) AS tfidf
      |  FROM tf JOIN df USING (term) CROSS JOIN n
      |  WHERE tf.doc_id < 50)
      |SELECT doc_id, rank, term, tfidf FROM (
      |  SELECT doc_id, term, tfidf,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS INTEGER) AS rank
      |  FROM scored) t
      |WHERE rank <= 3
      |ORDER BY doc_id, rank""".stripMargin) { (s, d) =>
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
    val tf = toks.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val df = toks.groupBy(col("term")).agg(countDistinct(col("doc_id")).as("df"))
    val n = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
    val scored = tf.filter(col("doc_id") < 50)
      .join(df, Seq("term"))
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("term"),
        round(col("tf") * log((col("n_docs") + 1.0) / (col("df") + 1.0)), 6).as("tfidf"))
    val wk = Window.partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("term"))
    scored.withColumn("rank", row_number().over(wk))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("rank"), col("term"), col("tfidf"))
      .orderBy(col("doc_id"), col("rank"))
  }

  /** Shared coarse-quantizer affinity table — (vec_id, c_id, ca,
    * crank): every vector × the 16 TRAINED coarse centroids
    * ([[Quantizer.ivfCentroids]]: Lloyd-trained from the first-16 seeds,
    * decimal-exact, oracle-replayed), cosine-ranked per vector. ONE
    * broadcast join + window over the fleet, materialized per session
    * ([[graft.Shared]]): q49 probes it for IVF search and q140 reuses it
    * for the composed IVF+ADC read path — the same reuse seam as the
    * MinHash base (q32/q57) and pqAssign (q108/q109).
    */
  private[ops] def ivfAffinity(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    graft.Shared.materialized(s, s"ivf-aff@$d") {
      val e = Tables.vectors(s, d)
      val cent = Quantizer.ivfCentroids(s, d)
        .select(col("cid").as("c_id"), col("cv"))
      val wAff = Window.partitionBy(col("vec_id")).orderBy(col("ca").desc, col("c_id"))
      e.crossJoin(broadcast(cent))
        .select(col("vec_id"), col("c_id"),
          round(CosineSim.cosine(col("v"), col("cv")), 6).as("ca"))
        .withColumn("crank", row_number().over(wAff))
    }

  /** IVF-style ANN: 16 TRAINED coarse centroids (Lloyd over the fleet,
    * seeded from the first 16 embeddings — [[Quantizer.ivfCentroids]]),
    * every vector assigned to its nearest centroid (inverted lists),
    * queries probe their 2 nearest lists only, exact cosine re-rank
    * inside the probed lists. At 100 TB the candidate scan shrinks by
    * ~centroids/nprobe; the assignment pass is one broadcast join over
    * the fleet (session-shared [[ivfAffinity]]).
    */
  val annIvf = Q(
    "q49_ann_ivf",
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |${Quantizer.centroidTrainCtes(16)},
      |cent AS (SELECT cid AS c_id, cv FROM ${Quantizer.centFinal}),
      |aff AS (
      |  SELECT e.vec_id, c_id,
      |    ROUND(list_dot_product(v, cv)
      |      / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(cv, cv))), 6) AS ca,
      |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
      |      ORDER BY ROUND(list_dot_product(v, cv)
      |        / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(cv, cv))), 6) DESC, c_id) AS crank
      |  FROM e, cent),
      |assigned AS (SELECT vec_id, c_id FROM aff WHERE crank = 1),
      |probes AS (SELECT vec_id AS q_id, c_id FROM aff WHERE crank <= 2 AND vec_id < 10),
      |cand AS (
      |  SELECT DISTINCT p.q_id, a.vec_id AS c_vec
      |  FROM probes p JOIN assigned a ON p.c_id = a.c_id AND a.vec_id <> p.q_id),
      |sims AS (
      |  SELECT q_id, c_vec,
      |    ROUND(list_dot_product(q.v, c.v)
      |      / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))), 6) AS sim
      |  FROM cand JOIN e q ON q.vec_id = q_id JOIN e c ON c.vec_id = c_vec)
      |SELECT q_id, rank, c_vec AS c_id, sim FROM (
      |  SELECT q_id, c_vec, sim,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, c_vec) AS INTEGER) AS rank
      |  FROM sims) t
      |WHERE rank <= 3
      |ORDER BY q_id, rank""".stripMargin) { (s, d) =>
    val e = Tables.vectors(s, d)
    val aff = ivfAffinity(s, d)
    val assigned = aff.filter(col("crank") === 1).select(col("vec_id"), col("c_id"))
    val probes = aff.filter(col("crank") <= 2 && col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("c_id").as("probe_c_id"))
    val cand = broadcast(probes)
      .join(assigned.as("a"), col("probe_c_id") === col("a.c_id") && col("a.vec_id") =!= col("q_id"))
      .select(col("q_id"), col("a.vec_id").as("c_vec")).distinct()
    val simCos = round(CosineSim.cosine(col("qv"), col("cv2")), 6)
    val sims = cand
      .join(e.select(col("vec_id").as("q_id"), col("v").as("qv")), Seq("q_id"))
      .join(e.select(col("vec_id").as("c_vec"), col("v").as("cv2")), Seq("c_vec"))
      .select(col("q_id"), col("c_vec"), simCos.as("sim"))
    val wk = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("c_vec"))
    sims.withColumn("rank", row_number().over(wk))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("rank"), col("c_vec").as("c_id"), col("sim"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** Per-label embedding centroids in long format (label, pos, value) —
    * the k-means/IVF training step: posexplode to (label, dim) cells,
    * partial-aggregated mean per cell. One shuffle of 64 cells per label
    * regardless of corpus size.
    */
  val embeddingCentroids = Q(
    "q75_embedding_centroids",
    """SELECT label, CAST(p.pos AS INTEGER) AS pos,
      |  (2 * SUM(CAST(ROUND(CAST(embedding[p.pos + 1] AS DOUBLE) * 1000000) AS BIGINT))
      |     + CASE WHEN SUM(CAST(ROUND(CAST(embedding[p.pos + 1] AS DOUBLE) * 1000000) AS BIGINT)) < 0
      |            THEN -COUNT(*) ELSE COUNT(*) END)
      |    // (2 * COUNT(*)) / 1000000.0 AS centroid_v,
      |  COUNT(*) AS n_vectors
      |FROM embeddings CROSS JOIN (SELECT unnest(range(0, 64)) AS pos) p
      |GROUP BY label, p.pos
      |ORDER BY label, pos""".stripMargin) { (s, d) =>
    // Mean at 6 decimals in INTEGER micro-units (exact sum, half-up via
    // (2a+b) DIV 2b — both engines truncate identically): a double
    // division + round() flips between engines when the true mean sits
    // on a .0000005 boundary, which sf0.1 actually hits.
    Tables.embeddings(s, d)
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos"))
      .agg(
        sum(round(col("v").cast("double") * 1000000).cast("long")).as("sum_micro"),
        count(lit(1)).as("n_vectors"))
      .select(col("label"), col("pos"),
        (Det.halfUpDiv(col("sum_micro"), col("n_vectors")) / 1000000.0)
          .as("centroid_v"),
        col("n_vectors"))
      .orderBy(col("label"), col("pos"))
  }

  /** Full Lloyd k-means, k=8, 2 iterations (q49's coarse quantizer is one
    * assignment pass; q75 is one centroid recompute; this closes the
    * loop). Centroids broadcast — each assignment pass is a single scan
    * of the fleet with a codegen'd distance (||x||² - 2x·c + ||c||² via
    * `graft_dot`), never a fact-side shuffle. The recompute is a per-dim
    * decimal average (order-independent, so the oracle's centroids are
    * bit-identical), distances are ranked at 6 decimals with a cid
    * tie-break, and inertia sums the rounded distances exactly. Both
    * passes are [[Quantizer]]'s, the trainer behind every ANN codebook.
    */
  val kmeansLloyd = Q(
    "q80_kmeans_lloyd",
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |c0 AS (SELECT CAST(vec_id AS INTEGER) AS cid, v AS cv FROM e WHERE vec_id < 8),
      |a1 AS (
      |  SELECT vec_id, cid,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY
      |      ROUND(list_dot_product(v,v) - 2*list_dot_product(v,cv) + list_dot_product(cv,cv), 6), cid) AS rn
      |  FROM e CROSS JOIN c0 QUALIFY rn = 1),
      |m1 AS (
      |  SELECT a1.cid, u.dim, CAST(SUM(CAST(u.val AS DECIMAL(20,10))) AS DOUBLE)/COUNT(*) AS cval
      |  FROM a1 JOIN e USING (vec_id),
      |    LATERAL (SELECT unnest(e.v) AS val, generate_subscripts(e.v,1) AS dim) u
      |  GROUP BY a1.cid, u.dim),
      |c1 AS (SELECT cid, list(cval ORDER BY dim) AS cv FROM m1 GROUP BY cid),
      |a2 AS (
      |  SELECT vec_id, cid,
      |    ROUND(list_dot_product(v,v) - 2*list_dot_product(v,cv) + list_dot_product(cv,cv), 6) AS dist,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY
      |      ROUND(list_dot_product(v,v) - 2*list_dot_product(v,cv) + list_dot_product(cv,cv), 6), cid) AS rn
      |  FROM e CROSS JOIN c1 QUALIFY rn = 1)
      |SELECT cid, COUNT(*) AS n_members,
      |  CAST(SUM(CAST(dist AS DECIMAL(28,6))) AS DOUBLE) AS inertia
      |FROM a2 GROUP BY cid ORDER BY cid""".stripMargin) { (s, d) =>
    val e = Tables.vectors(s, d)
    // c1 = one Lloyd pass from the first-8 seeds; the final pass assigns
    Quantizer.assignFull(e, Quantizer.trainCentroids(e, k = 8, iters = 1))
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n_members"),
        sum(col("dist").cast("decimal(28,6)")).cast("double").as("inertia"))
      .orderBy(col("cid"))
  }

  /** Micro-unit sub-block distance ||x - c||² as a BIGINT — `x`/`c` are
    * 16-dim array<double> columns (a vector block and its trained
    * sub-centroid from [[Quantizer.pqCodebook]]). The same algebra as
    * [[distMicroSql]]: [[DotProduct]] and DuckDB's `list_dot_product` are
    * both sequential folds (parity proven by q80).
    */
  private[ops] def distMicro(x: Column, c: Column): Column = {
    import DotProduct.dot
    round((dot(x, x) - lit(2) * dot(x, c) + dot(c, c)) * 1000000).cast("long")
  }

  /** [[distMicro]] in DuckDB SQL over the columns named `x` and `c`. */
  private[ops] def distMicroSql(x: String, c: String): String =
    s"CAST(ROUND((list_dot_product($x, $x) - 2 * list_dot_product($x, $c) + " +
      s"list_dot_product($c, $c)) * 1000000) AS BIGINT)"

  /** Per-(vector, block) packed minima mk = dist_micro·100 + cid over the
    * TRAINED sub-codebooks (the PQ assignment table) — computed once per
    * session via [[graft.Shared]] (q108 reports it, q109/q140 search over
    * it; one corpus encode feeds all three, the same reuse seam as the
    * q32/q57 MinHash base). Packing (micro-dist, cid) into one BIGINT
    * (cid < 100 by construction) makes MIN() the lexicographic winner —
    * bit-identical in both engines, no struct aggregate needed.
    */
  private[ops] def pqAssign(s: SparkSession, d: String): DataFrame =
    graft.Shared.materialized(s, s"pq-assign@$d") {
      packedMin(Tables.vectors(s, d), Quantizer.pqCodebook(s, d))
    }

  /** The packed-min table (vec_id, b, mk) of `batch(vec_id, v, …)`
    * against a trained `codebook(b, cid, cv)` — the ONE PQ encode: a
    * vector block's code is `mk % 100` and its quantization error in
    * micro units `mk div 100`. [[pqAssign]] is this over the corpus;
    * [[AnnIndex]]'s builds and appends derive codes and errors from it.
    */
  private[ops] def packedMin(batch: DataFrame, codebook: DataFrame): DataFrame =
    Quantizer.subBlocks(batch.select(col("vec_id"), col("v")))
      .join(broadcast(codebook), Seq("b"))
      .select(col("vec_id"), col("b"),
        (distMicro(col("sv"), col("cv")) * 100 + col("cid")).as("pk"))
      .groupBy(col("vec_id"), col("b"))
      .agg(min(col("pk")).as("mk"))

  /** Shared oracle CTE: packed per-(vector, block) candidate distances
    * over the trained codebook — expects `sub` and [[Quantizer.pqFinal]]
    * from [[Quantizer.pqTrainCtes]] upstream.
    */
  private[ops] def pqPkCteSql: String =
    s"""pk AS (
       |  SELECT s.vec_id, s.b, ${distMicroSql("sv", "cv")} * 100 + cid AS pk
       |  FROM sub s JOIN ${Quantizer.pqFinal} USING (b))""".stripMargin

  /** Product-quantization encoding — the ANN compression layer between
    * q49's IVF partitioner and q34's exact scan: the 64-dim space splits
    * into 4 sub-blocks of 16, each block quantizes independently against
    * its TRAINED 8-entry sub-codebook ([[Quantizer.pqCodebook]]: Lloyd-
    * trained from the first-8 seeds, decimal-exact and oracle-replayed),
    * and every vector reduces to 4 one-byte codes + its quantization
    * error. One broadcast of the codebook, one scan, map-side argmin — at
    * fleet scale the encoded corpus is 4 bytes/vector instead of 256,
    * which is what makes in-memory ADC scans possible.
    */
  val pqEncode = Q(
    "q108_pq_encode",
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |${Quantizer.pqTrainCtes(8)},
       |$pqPkCteSql,
       |mk AS (SELECT vec_id, b, MIN(pk) AS mk FROM pk GROUP BY vec_id, b),
       |m AS (
       |  SELECT vec_id,
       |    MIN(CASE WHEN b = 0 THEN mk END) AS m0, MIN(CASE WHEN b = 1 THEN mk END) AS m1,
       |    MIN(CASE WHEN b = 2 THEN mk END) AS m2, MIN(CASE WHEN b = 3 THEN mk END) AS m3
       |  FROM mk GROUP BY vec_id)
       |SELECT vec_id,
       |  CAST(m0 % 100 AS INTEGER) AS c0, CAST(m1 % 100 AS INTEGER) AS c1,
       |  CAST(m2 % 100 AS INTEGER) AS c2, CAST(m3 % 100 AS INTEGER) AS c3,
       |  (m0 // 100 + m1 // 100 + m2 // 100 + m3 // 100) / 1000000.0 AS err
       |FROM m ORDER BY vec_id""".stripMargin) { (s, d) =>
    pqAssign(s, d)
      .groupBy(col("vec_id"))
      .agg(min(when(col("b") === 0, col("mk"))).as("m0"),
        min(when(col("b") === 1, col("mk"))).as("m1"),
        min(when(col("b") === 2, col("mk"))).as("m2"),
        min(when(col("b") === 3, col("mk"))).as("m3"))
      .select(col("vec_id"),
        (col("m0") % 100).cast("int").as("c0"), (col("m1") % 100).cast("int").as("c1"),
        (col("m2") % 100).cast("int").as("c2"), (col("m3") % 100).cast("int").as("c3"),
        (expr("m0 DIV 100 + m1 DIV 100 + m2 DIV 100 + m3 DIV 100") / 1000000.0).as("err"))
      .orderBy(col("vec_id"))
  }

  /** ADC (asymmetric-distance) top-k over the PQ codes — the search that
    * makes q108's compression useful: each query precomputes its 8×4
    * block-distance table to the trained codebook (a tiny broadcast), and
    * every candidate's approximate distance is FOUR table lookups summed
    * over its codes — the scan never touches raw vectors. Distances stay
    * in integer micro-units end to end, so ranking ties break identically
    * in both engines. At fleet scale: codes are 4 bytes/vector, the
    * distance table is queries×8×4 longs, and the whole search is one
    * broadcast-join + partial-agg'd top-k — no vector I/O at all.
    */
  val pqAdcSearch = Q(
    "q109_pq_adc_search",
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |${Quantizer.pqTrainCtes(8)},
       |$pqPkCteSql,
       |codes AS (SELECT vec_id, b, CAST(MIN(pk) % 100 AS INTEGER) AS code
       |          FROM pk GROUP BY vec_id, b),
       |dtab AS (
       |  SELECT s.vec_id AS qid, b, cid,
       |    ${distMicroSql("sv", "cv")} AS dm
       |  FROM sub s JOIN ${Quantizer.pqFinal} USING (b) WHERE s.vec_id < 5),
       |ad AS (
       |  SELECT d.qid, cd.vec_id AS cand, CAST(SUM(d.dm) AS BIGINT) AS adist_micro
       |  FROM codes cd JOIN dtab d ON d.b = cd.b AND d.cid = cd.code
       |  GROUP BY d.qid, cd.vec_id),
       |r AS (
       |  SELECT qid, cand, adist_micro,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY qid
       |      ORDER BY adist_micro, cand) AS INTEGER) AS rnk
       |  FROM ad QUALIFY rnk <= 3)
       |SELECT qid, rnk, cand, adist_micro / 1000000.0 AS approx_dist
       |FROM r ORDER BY qid, rnk""".stripMargin) { (s, d) =>
    val codes = pqAssign(s, d)
      .select(col("vec_id"), col("b"), (col("mk") % 100).cast("int").as("code"))
    val dtab = Quantizer.subBlocks(Tables.vectors(s, d)).filter(col("vec_id") < 5)
      .join(broadcast(Quantizer.pqCodebook(s, d)), Seq("b"))
      .select(col("vec_id").as("qid"), col("b"), col("cid"),
        distMicro(col("sv"), col("cv")).as("dm"))
    val ad = codes.as("cd")
      .join(broadcast(dtab.as("dt")),
        col("cd.b") === col("dt.b") && col("cd.code") === col("dt.cid"))
      .groupBy(col("dt.qid").as("qid"), col("cd.vec_id").as("cand"))
      .agg(sum(col("dt.dm")).as("adist_micro"))
    val w = Window.partitionBy(col("qid")).orderBy(col("adist_micro"), col("cand"))
    ad.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("qid"), col("rnk"), col("cand"),
        (col("adist_micro") / 1000000.0).as("approx_dist"))
      .orderBy(col("qid"), col("rnk"))
  }

  /** The PRODUCTION ANN read path: IVF coarse probing composed with ADC
    * scanning — q49 (probe the nprobe nearest inverted lists, over the
    * TRAINED coarse centroids) feeding q109 (rank candidates by
    * table-lookup distance over 4-byte PQ codes from the TRAINED
    * sub-codebooks). Neither half alone is the real shape: IVF with exact
    * re-rank still reads raw vectors for every candidate; ADC without
    * IVF scans every code in the fleet. Composed, a query touches
    * nprobe/nlists of the corpus AND only its codes — the scan is
    * (probed candidates) × (4 byte lookups), no vector I/O after the
    * assignment passes. Both assignment passes are one broadcast join
    * each over the corpus; the PQ code table is the SAME session-shared
    * [[pqAssign]] q108/q109 use, and distances stay in integer
    * micro-units so ranking ties break identically in both engines.
    * Recall vs the exact q34 baseline is asserted in Advanced8Spec;
    * PLANS.md carries the plan showing the code scan joins the
    * candidate list, never the full corpus.
    */
  val ivfAdcSearch = Q(
    "q140_ivf_adc_search",
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |${Quantizer.centroidTrainCtes(16)},
       |${Quantizer.ivfProbeCtes(2, 5)},
       |${Quantizer.ivfCandCte(keepListId = false)},
       |${Quantizer.pqTrainCtes(8)},
       |$pqPkCteSql,
       |codes AS (SELECT vec_id, b, CAST(MIN(pk) % 100 AS INTEGER) AS code
       |          FROM pk GROUP BY vec_id, b),
       |dtab AS (
       |  SELECT s.vec_id AS qid, b, cid,
       |    ${distMicroSql("sv", "cv")} AS dm
       |  FROM sub s JOIN ${Quantizer.pqFinal} USING (b) WHERE s.vec_id < 5),
       |ad AS (
       |  SELECT x.qid, x.cand, CAST(SUM(d.dm) AS BIGINT) AS adist_micro
       |  FROM candp x
       |  JOIN codes cd ON cd.vec_id = x.cand
       |  JOIN dtab d ON d.qid = x.qid AND d.b = cd.b AND d.cid = cd.code
       |  GROUP BY x.qid, x.cand),
       |r AS (
       |  SELECT qid, cand, adist_micro,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY qid
       |      ORDER BY adist_micro, cand) AS INTEGER) AS rnk
       |  FROM ad QUALIFY rnk <= 3)
       |SELECT qid, rnk, cand, adist_micro / 1000000.0 AS approx_dist
       |FROM r ORDER BY qid, rnk""".stripMargin) { (s, d) =>
    val ad = ivfAdcDistances(s, d)
    val w = Window.partitionBy(col("qid")).orderBy(col("adist_micro"), col("cand"))
    ad.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("qid"), col("rnk"), col("cand"),
        (col("adist_micro") / 1000000.0).as("approx_dist"))
      .orderBy(col("qid"), col("rnk"))
  }

  /** Composed IVF→ADC candidate distances (qid, cand, adist_micro) for
    * queries vec_id < 5 — the shortlist source shared by q140 (raw ADC
    * top-k) and q143 (shortlist → exact re-rank): session-shared coarse
    * affinity over trained centroids (q49's base), candidate list built
    * FIRST so only probed lists' codes reach the lookup join, broadcast
    * per-query distance table.
    */
  private def ivfAdcDistances(s: SparkSession, d: String): DataFrame = {
    val aff = ivfAffinity(s, d)
    val assigned = aff.filter(col("crank") === 1).select(col("vec_id"), col("c_id"))
    val probes = aff.filter(col("crank") <= 2 && col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("c_id").as("probe_c_id"))
    val candp = broadcast(probes)
      .join(assigned.as("a"),
        col("probe_c_id") === col("a.c_id") && col("a.vec_id") =!= col("qid"))
      .select(col("qid"), col("a.vec_id").as("cand")).distinct()
    val codes = pqAssign(s, d)
      .select(col("vec_id"), col("b"), (col("mk") % 100).cast("int").as("code"))
    val dtab = Quantizer.subBlocks(Tables.vectors(s, d)).filter(col("vec_id") < 5)
      .join(broadcast(Quantizer.pqCodebook(s, d)), Seq("b"))
      .select(col("vec_id").as("dqid"), col("b").as("db"), col("cid"),
        distMicro(col("sv"), col("cv")).as("dm"))
    candp.as("x")
      .join(codes.as("cd"), col("cd.vec_id") === col("x.cand"))
      .join(broadcast(dtab),
        col("dqid") === col("x.qid") && col("db") === col("cd.b") &&
          col("cid") === col("cd.code"))
      .groupBy(col("x.qid").as("qid"), col("x.cand").as("cand"))
      .agg(sum(col("dm")).as("adist_micro"))
  }

  /** The COMPLETE two-stage ANN read path: q140's IVF→ADC scan produces
    * a SHORTLIST (top-32 by 4-byte-code distance), and only the
    * shortlist's raw vectors are fetched for an exact re-rank — the
    * standard production retrieval shape (shortlist-then-rerank). This
    * is what closes the accuracy gap code quantization opens: ADC
    * ranking errors INSIDE the shortlist are repaired by the exact
    * distance, so recall approaches the IVF probe ceiling (Advanced8Spec
    * asserts it) while the corpus scan still touches only codes — raw
    * vectors are read for shortlist_size rows per query, not per
    * candidate. At 100 TB: the rerank join is a point-lookup-sized
    * broadcast (queries × 32 ids) against the vector store; everything
    * upstream is q140's no-vector-I/O plan.
    */
  val ivfAdcRerank = Q(
    "q143_ivf_adc_rerank",
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |${Quantizer.centroidTrainCtes(16)},
       |${Quantizer.ivfProbeCtes(2, 5)},
       |${Quantizer.ivfCandCte(keepListId = false)},
       |${Quantizer.pqTrainCtes(8)},
       |$pqPkCteSql,
       |codes AS (SELECT vec_id, b, CAST(MIN(pk) % 100 AS INTEGER) AS code
       |          FROM pk GROUP BY vec_id, b),
       |dtab AS (
       |  SELECT s.vec_id AS qid, b, cid,
       |    ${distMicroSql("sv", "cv")} AS dm
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
       |  FROM ad QUALIFY srnk <= 32),
       |er AS (
       |  SELECT sh.qid, sh.cand,
       |    ${distMicroSql("q.v", "c.v")} AS edist_micro
       |  FROM short sh JOIN e q ON q.vec_id = sh.qid JOIN e c ON c.vec_id = sh.cand),
       |r AS (
       |  SELECT qid, cand, edist_micro,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY qid
       |      ORDER BY edist_micro, cand) AS INTEGER) AS rnk
       |  FROM er QUALIFY rnk <= 3)
       |SELECT qid, rnk, cand, edist_micro / 1000000.0 AS exact_dist
       |FROM r ORDER BY qid, rnk""".stripMargin) { (s, d) =>
    val ad = ivfAdcDistances(s, d)
    val wS = Window.partitionBy(col("qid")).orderBy(col("adist_micro"), col("cand"))
    val short = ad.withColumn("srnk", row_number().over(wS))
      .filter(col("srnk") <= 32)
      .select(col("qid"), col("cand"))
    val e = Tables.vectors(s, d)
    // BOTH rerank joins broadcast the shortlist side: the post-join
    // intermediate loses the hint otherwise, and a planner estimate
    // could shuffle the whole vector store for a queries×32-row lookup
    val withQ = broadcast(broadcast(short)
      .join(e.select(col("vec_id").as("qid"), col("v").as("qv2")), Seq("qid")))
    val er = withQ
      .join(e.select(col("vec_id").as("cand"), col("v").as("cv3")), Seq("cand"))
      .select(col("qid"), col("cand"),
        distMicro(col("qv2"), col("cv3")).as("edist_micro"))
    val wR = Window.partitionBy(col("qid")).orderBy(col("edist_micro"), col("cand"))
    er.withColumn("rnk", row_number().over(wR))
      .filter(col("rnk") <= 3)
      .select(col("qid"), col("rnk"), col("cand"),
        (col("edist_micro") / 1000000.0).as("exact_dist"))
      .orderBy(col("qid"), col("rnk"))
  }

  /** Embedding second-moment matrix E[vᵢ·vⱼ] for the leading 8
    * dimensions (36 upper-triangle entries) — the input PCA/whitening
    * needs; cov(i,j) = m2(i,j) − mean(i)·mean(j) with means from q75.
    * One pass: each vector explodes to its 36 literal (i, j, product)
    * structs (fully codegen'd — no self-join, no per-dimension scan) and
    * a 36-group partial aggregate reduces them; the same shape extends
    * to all 64 dims (2080 entries) at the cost of codegen method size.
    * Products are rounded to micro-units BEFORE the exact decimal-free
    * BIGINT sum — order-independent, so bit-identical at any
    * parallelism (q75's documented boundary-exact recipe).
    */
  val embeddingMoments = Q(
    "q116_embedding_moments",
    """SELECT CAST(p.i AS INTEGER) AS i, CAST(p.j AS INTEGER) AS j,
      |  (2 * SUM(CAST(ROUND(CAST(embedding[p.i + 1] AS DOUBLE)
      |                      * CAST(embedding[p.j + 1] AS DOUBLE) * 1000000) AS BIGINT))
      |     + CASE WHEN SUM(CAST(ROUND(CAST(embedding[p.i + 1] AS DOUBLE)
      |                      * CAST(embedding[p.j + 1] AS DOUBLE) * 1000000) AS BIGINT)) < 0
      |            THEN -COUNT(*) ELSE COUNT(*) END)
      |    // (2 * COUNT(*)) / 1000000.0 AS m2,
      |  COUNT(*) AS n_vectors
      |FROM embeddings
      |CROSS JOIN (SELECT a.i AS i, b.j AS j
      |            FROM range(0, 8) a(i), range(0, 8) b(j) WHERE a.i <= b.j) p
      |GROUP BY p.i, p.j
      |ORDER BY i, j""".stripMargin) { (s, d) =>
    val pairs = for { i <- 0 until 8; j <- i until 8 } yield (i, j)
    val entries = array(pairs.map { case (i, j) =>
      struct(lit(i).as("i"), lit(j).as("j"),
        (element_at(col("embedding"), i + 1).cast("double")
          * element_at(col("embedding"), j + 1).cast("double")).as("p"))
    }: _*)
    Tables.embeddings(s, d)
      .select(explode(entries).as("e"))
      .select(col("e.i").as("i"), col("e.j").as("j"), col("e.p").as("p"))
      .groupBy(col("i"), col("j"))
      .agg(sum(round(col("p") * 1000000).cast("long")).as("sum_micro"),
        count(lit(1)).as("n_vectors"))
      .select(col("i"), col("j"),
        (Det.halfUpDiv(col("sum_micro"), col("n_vectors")) / 1000000.0).as("m2"),
        col("n_vectors"))
      .orderBy(col("i"), col("j"))
  }

  /** Inverted-index construction: per token, document frequency plus
    * the first 10 postings (sorted doc ids) for the 20 highest-df
    * tokens — the search-index build step. Postings cap via a
    * per-token rank window BEFORE aggregation (bounded state per
    * token); df counts the UNCAPPED distinct docs. Output postings are
    * a CSV string, not an array (the driver's comparator is
    * scalar-columns-only, q72's ordered-agg recipe).
    */
  val invertedIndex = Q(
    "q129_inverted_index",
    """WITH t AS (
      |  SELECT DISTINCT tok, doc_id FROM (
      |    SELECT unnest(string_split(text, ' ')) AS tok, doc_id FROM documents) z),
      |d AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM t GROUP BY tok),
      |r AS (
      |  SELECT tok, doc_id,
      |    ROW_NUMBER() OVER (PARTITION BY tok ORDER BY doc_id) AS rk
      |  FROM t),
      |p AS (
      |  SELECT tok, string_agg(doc_id, ',' ORDER BY doc_id) AS postings
      |  FROM r WHERE rk <= 10 GROUP BY tok)
      |SELECT d.tok, d.df, p.postings
      |FROM d JOIN p USING (tok)
      |ORDER BY df DESC, tok
      |LIMIT 20""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val t = Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("tok"), col("doc_id"))
      .distinct()
    val dfr = t.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val capped = t
      .withColumn("rk",
        row_number().over(Window.partitionBy(col("tok")).orderBy(col("doc_id"))))
      .filter(col("rk") <= 10)
      .groupBy(col("tok"))
      .agg(array_join(array_sort(collect_list(col("doc_id"))), ",").as("postings"))
    dfr.join(capped, Seq("tok"))
      .select(col("tok"), col("df"), col("postings"))
      .orderBy(col("df").desc, col("tok"))
      .limit(20)
  }

  /** Full 64-dimension second-moment (Gram) matrix — all 2080 upper-
    * triangle E[vᵢvⱼ] entries, oracle-checked (q116 covers the leading
    * 8 dims with a literal struct array; this is the full width the
    * PCA/whitening path actually consumes, matching
    * `functions.PCA.secondMoment`'s treeAggregate kernel). Per row, the
    * codegen'd [[graft.functions.OuterUpper]] loop emits the 2080
    * products as one flat array — a 6-line runtime loop instead of a
    * 2080-entry unrolled projection — then ONE posexplode + 2080-group
    * partial aggregate reduces them; (i,j) coordinates come from a
    * 2080-row broadcast lookup, so no float index math anywhere. One
    * pass over the vectors, no self-join, map-side combine does the
    * heavy lifting: the shuffle carries at most 2080 rows per task at
    * any corpus size. Products round to micro-units BEFORE the exact
    * BIGINT sum (q75/q116's boundary-exact recipe).
    */
  val fullMoments = Q(
    "q130_full_moments",
    """SELECT CAST(p.i AS INTEGER) AS i, CAST(p.j AS INTEGER) AS j,
      |  (2 * SUM(CAST(ROUND(CAST(embedding[p.i + 1] AS DOUBLE)
      |                      * CAST(embedding[p.j + 1] AS DOUBLE) * 1000000) AS BIGINT))
      |     + CASE WHEN SUM(CAST(ROUND(CAST(embedding[p.i + 1] AS DOUBLE)
      |                      * CAST(embedding[p.j + 1] AS DOUBLE) * 1000000) AS BIGINT)) < 0
      |            THEN -COUNT(*) ELSE COUNT(*) END)
      |    // (2 * COUNT(*)) / 1000000.0 AS m2,
      |  COUNT(*) AS n_vectors
      |FROM (SELECT embedding FROM embeddings WHERE len(embedding) = 64) embeddings
      |CROSS JOIN (SELECT a.i AS i, b.j AS j
      |            FROM range(0, 64) a(i), range(0, 64) b(j) WHERE a.i <= b.j) p
      |GROUP BY p.i, p.j
      |ORDER BY i, j""".stripMargin) { (s, d) =>
    val dim = 64
    val pairs = (for { i <- 0 until dim; j <- i until dim } yield (i, j)).zipWithIndex
      .map { case ((i, j), k) => (k, i, j) }
    val coords = s.createDataFrame(pairs).toDF("pos", "i", "j")
    Tables.embeddings(s, d)
      .filter(size(col("embedding")) === dim)
      .select(posexplode(OuterUpper.outerUpper(col("embedding"))).as(Seq("pos", "p")))
      .groupBy(col("pos"))
      .agg(sum(round(col("p") * 1000000).cast("long")).as("sum_micro"),
        count(lit(1)).as("n_vectors"))
      .join(broadcast(coords), Seq("pos"))
      .select(col("i"), col("j"),
        (Det.halfUpDiv(col("sum_micro"), col("n_vectors")) / 1000000.0).as("m2"),
        col("n_vectors"))
      .orderBy(col("i"), col("j"))
  }

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
    * BIGINT) — session-shared, the SQ8 analogue of [[pqAssign]].
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
    s"""WITH ${bm25AggCtes(BmQueryTerms)},
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
    val lex = bm25Scores(s, d)
      .withColumn("lex_rnk", row_number().over(wl))
      .filter(col("lex_rnk") <= ListDepth)
      .select(col("doc_id").as("l_id"), col("lex_rnk"))
    val e = Tables.vectors(s, d)
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
    (s"""WITH ${bm25AggCtes(BmQueryTerms)},
       |lex AS (
       |  SELECT doc_id AS l_id,
       |    CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS INTEGER) AS lex_rnk
       |  FROM agg QUALIFY lex_rnk <= $ListDepth),
       |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |${Quantizer.centroidTrainCtes(16, "e")},
       |${Quantizer.ivfProbeCtes(4, 1)},
       |${Quantizer.ivfCandCte(keepListId = false)},
       |${Quantizer.pqTrainCtes(8)},
       |${pqPkCteSql},
       |codes AS (SELECT vec_id, b, CAST(MIN(pk) % 100 AS INTEGER) AS code
       |          FROM pk GROUP BY vec_id, b),
       |dtab AS (
       |  SELECT s.vec_id AS qid, b, cid,
       |    ${distMicroSql("sv", "cv")} AS dm
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
        BmQueryTerms, ListDepth)
      .select(col("doc_id").as("l_id"), col("rnk").as("lex_rnk"))
    val aix = AnnIndex.load(s, Dedup.sharedFixedIndexDir(s, d))
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
    s"""WITH ${sq8RankCtes(5, 3, excludeSelf = true)},
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
    val sys = sq8Ranking(s, d, nq = 5, k = 3, excludeSelf = true)
      .select(col("qid"), col("rnk"), col("cand"))
    val e = Tables.vectors(s, d)
    rankingMetrics(sys, exactTopK(e, nq = 5, k = 3), k = 3).orderBy(col("qid"))
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
    val e = Tables.vectors(s, d)
    val q = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    lateInteractionTopK(e, q, 10).orderBy(col("qid"), col("rnk"))
  }

  // ---------------------------------------------------------------- q171

  private val PrefixDims = 16

  private val Shortlist  = 40

  private[ops] def cosSql(a: String, b: String): String =
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
    val e = Tables.vectors(s, d)
    val q = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    matryoshkaSearch(e, q, PrefixDims, Shortlist, 5).orderBy(col("qid"), col("rnk"))
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
    val e = Tables.vectors(s, d)
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
      |${pqPkCteSql},
      |codes AS (SELECT vec_id, b, CAST(MIN(pk) % 100 AS INTEGER) AS code
      |          FROM pk GROUP BY vec_id, b),
      |dtab AS (
      |  SELECT s.vec_id AS qid, b, cid,
      |    ${distMicroSql("sv", "cv")} AS dm
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
    val e = Tables.vectors(s, d)
    val queries = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("v"))
    maxSimRerank(s, ix, e, queries, k = 3, frac = 0.2,
        shortlistPerProbe = 64, excludeSelf = true)
      .orderBy(col("qid"), col("rnk"))
  }

  val specs: Seq[Q] = Seq(tfidf, annIvf, embeddingCentroids, kmeansLloyd,
    pqEncode, pqAdcSearch, ivfAdcSearch, ivfAdcRerank, embeddingMoments,
    invertedIndex, fullMoments, sq8Search, bm25, hybridRrf, hybridServed,
    filteredAnn, phraseSearch, retrievalEval, lateInteraction,
    matryoshkaRerank, ndcgEval, scaledMaxSim)
}
