package graft.ops

import graft.{Det, Q, Tables}
import graft.functions.CosineSim
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Second advanced batch: TF-IDF ranking, IVF-style ANN (the coarse-
  * quantizer scale path alongside q35's LSH), and salted two-phase
  * aggregation (the skew pattern).
  */
object Advanced2 {

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
      val e = Tables.embeddings(s, d).select(col("vec_id"),
        graft.functions.VectorFunctions.asDouble(col("embedding")).as("v"))
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
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), graft.functions.VectorFunctions.asDouble(col("embedding")).as("v"))
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

  /** Salted two-phase aggregation: events grouped by event_type (only 5
    * distinct values — at 100 TB every one is a hot key). Phase 1
    * pre-aggregates on (key, salt) across 16 synthetic salts, phase 2
    * combines per key — the shuffle carries 5×16 rows instead of 5
    * giant partitions. The oracle is the plain GROUP BY: identical
    * results, different physical distribution.
    */
  val saltedAgg = Q(
    "q50_salted_agg",
    """SELECT event_type,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
      |  MAX(value) AS max_value
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin) { (s, d) =>
    val phase1 = Tables.events(s, d)
      .withColumn("salt", pmod(col("event_id"), lit(16)))
      .groupBy(col("event_type"), col("salt"))
      .agg(count(lit(1)).as("pn"),
        sum(col("value").cast("decimal(18,2)")).as("psum"),
        max(col("value")).as("pmax"))
    phase1.groupBy(col("event_type"))
      .agg(sum(col("pn")).as("n"),
        sum(col("psum")).cast("double").as("sum_value"),
        max(col("pmax")).as("max_value"))
      .orderBy(col("event_type"))
  }

  val specs: Seq[Q] = Seq(tfidf, annIvf, saltedAgg)
}
