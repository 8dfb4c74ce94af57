package graft.ops

import graft.{Q, Shared, Tables}
import graft.functions.VecSub
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** RESIDUAL product quantization — IVF-PQ proper (q144), the classic
  * production ANN index shape: instead of quantizing raw vectors
  * (q108's codebook must cover the whole space), each vector is encoded
  * as its RESIDUAL against its assigned coarse centroid (v − c), and the
  * sub-codebooks train on residuals — which concentrate near the origin
  * with far less variance than raw vectors, so the same 4 bytes of code
  * spend their precision on the part of the vector the coarse quantizer
  * didn't already explain. Queries build one distance table PER PROBED
  * LIST (their residual differs per centroid) — probes × 8×4 longs,
  * still a tiny broadcast.
  *
  * Everything stays in the proven recipes: coarse centroids and
  * residual sub-codebooks are Lloyd-trained ([[Quantizer]], oracle-
  * replayed), residuals use the codegen'd `graft_vec_sub` (zip_with
  * lambdas run interpreted — unacceptable for a corpus-wide encode
  * pass), distances rank in integer micro-units, and the whole chain is
  * expressed in the DuckDB oracle. ResidualPQSpec asserts the point of
  * residual encoding: total quantization error strictly below q108's
  * raw-vector codes on the same corpus.
  *
  * At 100 TB: one extra broadcast join at encode time (centroids), the
  * same 4-byte/vector scan as q109/q140, and the per-probe distance
  * tables scale with nprobe, not the corpus.
  */
object ResidualPQ {

  private def cent(s: SparkSession, d: String): DataFrame =
    Quantizer.ivfCentroids(s, d).select(col("cid").as("c_id"), col("cv"))

  /** (vec_id, v = residual): every vector minus its assigned trained
    * coarse centroid — one broadcast join + one codegen'd subtract.
    */
  private def residuals(s: SparkSession, d: String): DataFrame = {
    val assigned = Retrieval.ivfAffinity(s, d)
      .filter(col("crank") === 1).select(col("vec_id"), col("c_id"))
    Tables.vectors(s, d).join(assigned, Seq("vec_id"))
      .join(broadcast(cent(s, d)), Seq("c_id"))
      .select(col("vec_id"), VecSub.vecSub(col("v"), col("cv")).as("v"))
  }

  /** Residual sub-codebooks (b, cid, cv) — Lloyd-trained on residual
    * blocks; session-shared.
    */
  private[graft] def resCodebook(s: SparkSession, d: String): DataFrame =
    Shared.materialized(s, s"pqres-cb@$d") {
      Quantizer.trainPqBlocks(Quantizer.subBlocks(residuals(s, d)), 8,
        Quantizer.Iters)
    }

  /** Residual code table (vec_id, b, code, err_micro) — the 4-byte
    * encoded corpus plus per-block quantization error; session-shared.
    */
  private[graft] def resCodes(s: SparkSession, d: String): DataFrame =
    Shared.materialized(s, s"pqres-codes@$d") {
      Quantizer.subBlocks(residuals(s, d))
        .join(broadcast(resCodebook(s, d)), Seq("b"))
        .select(col("vec_id"), col("b"),
          (Retrieval.distMicro(col("sv"), col("cv")) * 100 +
            col("cid")).as("pk"))
        .groupBy(col("vec_id"), col("b"))
        .agg(min(col("pk")).as("mk"))
        .select(col("vec_id"), col("b"),
          (col("mk") % 100).cast("int").as("code"),
          expr("mk DIV 100").as("err_micro"))
    }

  val ivfPqResidual = Q(
    "q144_ivfpq_residual_search",
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |${Quantizer.centroidTrainCtes(16)},
       |${Quantizer.ivfProbeCtes(2, 5)},
       |${Quantizer.ivfCandCte(keepListId = true)},
       |res AS (
       |  SELECT e.vec_id, list_transform(range(1, 65), i -> v[i] - centv[i]) AS rv
       |  FROM e JOIN assigned a ON a.vec_id = e.vec_id JOIN cent c ON c.c_id = a.c_id),
       |${Quantizer.pqTrainCtes(8, "res", "rv")},
       |${Retrieval.pqPkCteSql},
       |codes AS (SELECT vec_id, b, CAST(MIN(pk) % 100 AS INTEGER) AS code
       |          FROM pk GROUP BY vec_id, b),
       |qres AS (
       |  SELECT p.qid, p.c_id, list_transform(range(1, 65), i -> q.v[i] - c.centv[i]) AS rv
       |  FROM probes p JOIN e q ON q.vec_id = p.qid JOIN cent c ON c.c_id = p.c_id),
       |qrsub AS (
       |  SELECT qid, c_id, bb.b AS b, list_slice(rv, 16*bb.b+1, 16*bb.b+16) AS sv
       |  FROM qres CROSS JOIN (VALUES (0),(1),(2),(3)) bb(b)),
       |dtab AS (
       |  SELECT qid, c_id, b, cid,
       |    ${Retrieval.distMicroSql("sv", "cv")} AS dm
       |  FROM qrsub JOIN ${Quantizer.pqFinal} USING (b)),
       |ad AS (
       |  SELECT x.qid, x.cand, CAST(SUM(d.dm) AS BIGINT) AS adist_micro
       |  FROM candp x
       |  JOIN codes cd ON cd.vec_id = x.cand
       |  JOIN dtab d ON d.qid = x.qid AND d.c_id = x.c_id
       |    AND d.b = cd.b AND d.cid = cd.code
       |  GROUP BY x.qid, x.cand),
       |r AS (
       |  SELECT qid, cand, adist_micro,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY qid
       |      ORDER BY adist_micro, cand) AS INTEGER) AS rnk
       |  FROM ad QUALIFY rnk <= 3)
       |SELECT qid, rnk, cand, adist_micro / 1000000.0 AS approx_dist
       |FROM r ORDER BY qid, rnk""".stripMargin) { (s, d) =>
    val aff = Retrieval.ivfAffinity(s, d)
    val assigned = aff.filter(col("crank") === 1).select(col("vec_id"), col("c_id"))
    val probes = aff.filter(col("crank") <= 2 && col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("c_id"))
    val candp = broadcast(probes.withColumnRenamed("c_id", "probe_c_id"))
      .join(assigned.as("a"),
        col("probe_c_id") === col("a.c_id") && col("a.vec_id") =!= col("qid"))
      .select(col("qid"), col("probe_c_id").as("c_id"),
        col("a.vec_id").as("cand")).distinct()
    // per-probe query residuals → one distance table per (query, list)
    val e = Tables.vectors(s, d)
    val qres = probes
      .join(e.select(col("vec_id").as("qid"), col("v").as("qv")), Seq("qid"))
      .join(broadcast(cent(s, d)), Seq("c_id"))
      .select(col("qid"), col("c_id"), VecSub.vecSub(col("qv"), col("cv")).as("v"))
    val dtab = Quantizer.subBlocks(qres, Seq("qid", "c_id"))
      .join(broadcast(resCodebook(s, d)), Seq("b"))
      .select(col("qid"), col("c_id"), col("b"), col("cid"),
        Retrieval.distMicro(col("sv"), col("cv")).as("dm"))
    val ad = candp.as("x")
      .join(resCodes(s, d).as("cd"), col("cd.vec_id") === col("x.cand"))
      .join(broadcast(dtab.as("dt")),
        col("dt.qid") === col("x.qid") && col("dt.c_id") === col("x.c_id") &&
          col("dt.b") === col("cd.b") && col("dt.cid") === col("cd.code"))
      .groupBy(col("x.qid").as("qid"), col("x.cand").as("cand"))
      .agg(sum(col("dt.dm")).as("adist_micro"))
    val w = Window.partitionBy(col("qid")).orderBy(col("adist_micro"), col("cand"))
    ad.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("qid"), col("rnk"), col("cand"),
        (col("adist_micro") / 1000000.0).as("approx_dist"))
      .orderBy(col("qid"), col("rnk"))
  }

  val specs: Seq[Q] = Seq(ivfPqResidual)
}
