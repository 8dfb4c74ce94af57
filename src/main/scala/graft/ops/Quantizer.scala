package graft.ops

import graft.{Shared, Tables}
import graft.functions.DotProduct
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** TRAINED quantizers for the ANN stack — the round-6 replacement for the
  * "first-N seed vectors" codebook stand-ins (round-5 verdict item 1).
  *
  * Both trainers run q80's Lloyd recipe (seeded from the first-N vectors,
  * fixed iteration count, decimal-exact centroid recompute, 6-decimal
  * rounded distances with cid tie-break), so the result is deterministic
  * and ORACLE-EXPRESSIBLE: [[centroidTrainCtes]] / [[pqTrainCtes]] emit
  * the identical training dataflow as DuckDB CTE text for q49/q108/q109/
  * q140's oracles, and parity of every arithmetic step (decimal average,
  * rounded distance, struct-min vs ROW_NUMBER argmin) is the same parity
  * q80 already proves.
  *
  * Scale shape: each Lloyd pass is one broadcast join over the corpus with
  * a map-side struct-min argmin (the shuffle carries one row per vector,
  * never k), and the recompute is a per-dimension partial-agg'd decimal
  * average — k×dim rows. Training state (k centroids / 4×k sub-centroids)
  * is session-shared via [[graft.Shared]], so q49+q140 train the coarse
  * quantizer once and q108/q109/q140 train the product codebook once.
  */
object Quantizer {

  /** Lloyd iterations (recompute passes) for both quantizers. Two passes
    * move the seeds well clear of their arbitrary start while keeping the
    * oracle CTE chain short; the recall lift is asserted in Advanced8Spec.
    */
  val Iters = 2

  // ---------------------------------------------------------------- Spark

  private def emb(s: SparkSession, d: String): DataFrame = {
    // spread the single-file scan before the Lloyd distance passes
    // (round 19, guide §2.5) — the trainers otherwise run one-task
    graft.Spread.lazyAuto(Tables.vectors(s, d))
  }

  /** (keys…, b, sv): each vector split into 4 contiguous 16-dim blocks —
    * one codegen'd projection, 4 rows per vector. `keys` are carried
    * through (vec_id for corpus encoding; (qid, c_id) for q144's
    * per-probe query residuals).
    */
  def subBlocks(e: DataFrame, keys: Seq[String] = Seq("vec_id")): DataFrame =
    e.select(keys.map(col) :+ explode(array((0 until 4).map(b =>
        struct(lit(b).as("b"), expr(s"slice(v, ${16 * b + 1}, 16)").as("sv"))): _*)).as("x"): _*)
      .select(keys.map(col) :+ col("x.b").as("b") :+ col("x.sv").as("sv"): _*)

  /** One assignment pass, full vectors: nearest centroid per vector by
    * rounded L2² with cid tie-break. Struct-min argmin → the partial
    * aggregate collapses k candidate rows to 1 before the shuffle
    * (q80's plan shape).
    */
  private[ops] def assignFull(e: DataFrame, cent: DataFrame): DataFrame = {
    val eVv = e.withColumn("vv", DotProduct.dot(col("v"), col("v")))
    eVv.crossJoin(broadcast(cent.withColumn("cc", DotProduct.dot(col("cv"), col("cv")))))
      .select(col("vec_id"), col("v"),
        struct(round(col("vv") - lit(2) * DotProduct.dot(col("v"), col("cv")) + col("cc"), 6).as("dist"),
          col("cid")).as("dc"))
      .groupBy(col("vec_id"))
      .agg(min(col("dc")).as("m"), first(col("v")).as("v")) // v constant per vec_id
      .select(col("m.cid").as("cid"), col("v"))
  }

  /** Decimal-exact centroid recompute (order-independent, so the oracle's
    * centroids are bit-identical — q80's m1/c1 shape).
    */
  private def recomputeFull(asg: DataFrame): DataFrame =
    asg.select(col("cid"), posexplode(col("v")).as(Seq("dim", "val")))
      .groupBy(col("cid"), col("dim"))
      .agg((sum(col("val").cast("decimal(20,10)")).cast("double") / count(lit(1))).as("cval"))
      .groupBy(col("cid"))
      .agg(array_sort(collect_list(struct(col("dim"), col("cval")))).as("pairs"))
      .select(col("cid"), expr("transform(pairs, p -> p.cval)").as("cv"))

  /** Per-block variants of the same two passes — identical arithmetic with
    * a `b` (block) key threaded through, training 4 independent 16-dim
    * sub-codebooks in ONE pass over the block table.
    */
  private def assignBlocks(sub: DataFrame, cb: DataFrame): DataFrame = {
    val subVv = sub.withColumn("vv", DotProduct.dot(col("sv"), col("sv")))
    subVv.join(broadcast(cb.withColumn("cc", DotProduct.dot(col("cv"), col("cv")))), Seq("b"))
      .select(col("vec_id"), col("b"), col("sv"),
        struct(round(col("vv") - lit(2) * DotProduct.dot(col("sv"), col("cv")) + col("cc"), 6).as("dist"),
          col("cid")).as("dc"))
      .groupBy(col("vec_id"), col("b"))
      .agg(min(col("dc")).as("m"), first(col("sv")).as("sv"))
      .select(col("b"), col("m.cid").as("cid"), col("sv"))
  }

  private def recomputeBlocks(asg: DataFrame): DataFrame =
    asg.select(col("b"), col("cid"), posexplode(col("sv")).as(Seq("dim", "val")))
      .groupBy(col("b"), col("cid"), col("dim"))
      .agg((sum(col("val").cast("decimal(20,10)")).cast("double") / count(lit(1))).as("cval"))
      .groupBy(col("b"), col("cid"))
      .agg(array_sort(collect_list(struct(col("dim"), col("cval")))).as("pairs"))
      .select(col("b"), col("cid"), expr("transform(pairs, p -> p.cval)").as("cv"))

  /** Generic Lloyd trainer over any `(vec_id, v: array<double>)` frame:
    * k centroids seeded from the rows with vec_id < k (ids assumed dense
    * from 0), `iters` assignment+recompute passes. Returns (cid, cv).
    */
  def trainCentroids(e: DataFrame, k: Int, iters: Int): DataFrame = {
    var cb = e.filter(col("vec_id") < k)
      .select(col("vec_id").cast("int").as("cid"), col("v").as("cv"))
    for (_ <- 1 to iters) cb = recomputeFull(assignFull(e, cb))
    cb
  }

  /** Generic per-block Lloyd trainer over a `(vec_id, b, sv)` block frame
    * (see [[subBlocks]]): k sub-centroids per block, seeded from the rows
    * with vec_id < k, `iters` passes. Returns (b, cid, cv).
    */
  def trainPqBlocks(sub: DataFrame, k: Int, iters: Int): DataFrame = {
    var cb = sub.filter(col("vec_id") < k)
      .select(col("b"), col("vec_id").cast("int").as("cid"), col("sv").as("cv"))
    for (_ <- 1 to iters) cb = recomputeBlocks(assignBlocks(sub, cb))
    cb
  }

  /** Trained IVF coarse centroids (cid, cv): k=16, seeded from the first
    * 16 embeddings, [[Iters]] Lloyd passes. Session-shared.
    */
  def ivfCentroids(s: SparkSession, d: String): DataFrame =
    Shared.materialized(s, s"ivf-cent@$d") {
      trainCentroids(emb(s, d), 16, Iters)
    }

  /** Trained PQ sub-codebooks (b, cid, cv): 4 blocks × k=8 16-dim
    * centroids, seeded from the first 8 vectors' blocks, [[Iters]] Lloyd
    * passes. Session-shared.
    */
  def pqCodebook(s: SparkSession, d: String): DataFrame =
    Shared.materialized(s, s"pq-cb@$d") {
      trainPqBlocks(subBlocks(emb(s, d)), 8, Iters)
    }

  // ------------------------------------------------------- oracle SQL text

  private def l2Sql(x: String, c: String): String =
    s"ROUND(list_dot_product($x,$x) - 2*list_dot_product($x,$c) + list_dot_product($c,$c), 6)"

  /** DuckDB CTE chain training the coarse centroids from a prior CTE
    * `src(vec_id, v)` (default `e`; q160 trains from its `samp` CTE —
    * the source is aliased `e` inside the chain, so the emitted text is
    * identical dataflow either way). Emits `ic0 … ic$Iters`; the
    * trained table is `ic$Iters(cid, cv)`. Same dataflow as
    * [[ivfCentroids]].
    */
  def centroidTrainCtes(k: Int, src: String = "e"): String = {
    val seed = s"ic0 AS (SELECT CAST(vec_id AS INTEGER) AS cid, v AS cv FROM $src WHERE vec_id < $k)"
    val iters = (1 to Iters).map { i =>
      s"""ia$i AS (
         |  SELECT e.vec_id, cid,
         |    ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY ${l2Sql("v", "cv")}, cid) AS rn
         |  FROM $src e CROSS JOIN ic${i - 1} QUALIFY rn = 1),
         |im$i AS (
         |  SELECT a.cid, u.dim, CAST(SUM(CAST(u.val AS DECIMAL(20,10))) AS DOUBLE)/COUNT(*) AS cval
         |  FROM ia$i a JOIN $src e USING (vec_id),
         |    LATERAL (SELECT unnest(e.v) AS val, generate_subscripts(e.v,1) AS dim) u
         |  GROUP BY a.cid, u.dim),
         |ic$i AS (SELECT cid, list(cval ORDER BY dim) AS cv FROM im$i GROUP BY cid)""".stripMargin
    }
    (seed +: iters).mkString(",\n")
  }

  /** Name of the trained-centroid CTE emitted by [[centroidTrainCtes]]. */
  val centFinal: String = s"ic$Iters"

  /** DuckDB CTE chain training the per-block PQ sub-codebooks from
    * `source.$vecCol` (default: the raw `e.v`; q144 trains on residual
    * vectors instead). Emits `sub` (the block table — reusable
    * downstream) and `pc0 … pc$Iters`; the trained table is
    * `pc$Iters(b, cid, cv)`. Same dataflow as [[pqCodebook]] /
    * [[trainPqBlocks]].
    */
  def pqTrainCtes(k: Int, source: String = "e", vecCol: String = "v",
      prefix: String = ""): String = {
    // `prefix` renames every emitted CTE so TWO trainings can coexist in
    // one oracle (q209 trains the old codebook over `e` and the retrained
    // one over the union); "" keeps every pre-round-15 oracle byte-identical
    val sub =
      s"""${prefix}sub AS (
        |  SELECT vec_id, bb.b AS b, list_slice($vecCol, 16*bb.b+1, 16*bb.b+16) AS sv
        |  FROM $source CROSS JOIN (VALUES (0),(1),(2),(3)) bb(b))""".stripMargin
    val seed = s"${prefix}pc0 AS (SELECT b, CAST(vec_id AS INTEGER) AS cid, sv AS cv FROM ${prefix}sub WHERE vec_id < $k)"
    val iters = (1 to Iters).map { i =>
      s"""${prefix}pa$i AS (
         |  SELECT s.vec_id, s.b, cid,
         |    ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.b ORDER BY ${l2Sql("sv", "cv")}, cid) AS rn
         |  FROM ${prefix}sub s JOIN ${prefix}pc${i - 1} USING (b) QUALIFY rn = 1),
         |${prefix}pm$i AS (
         |  SELECT a.b, a.cid, u.dim, CAST(SUM(CAST(u.val AS DECIMAL(20,10))) AS DOUBLE)/COUNT(*) AS cval
         |  FROM ${prefix}pa$i a JOIN ${prefix}sub s ON s.vec_id = a.vec_id AND s.b = a.b,
         |    LATERAL (SELECT unnest(s.sv) AS val, generate_subscripts(s.sv,1) AS dim) u
         |  GROUP BY a.b, a.cid, u.dim),
         |${prefix}pc$i AS (SELECT b, cid, list(cval ORDER BY dim) AS cv FROM ${prefix}pm$i GROUP BY b, cid)""".stripMargin
    }
    (Seq(sub, seed) ++ iters).mkString(",\n")
  }

  /** Name of the trained-codebook CTE emitted by [[pqTrainCtes]]. */
  val pqFinal: String = s"pc$Iters"

  /** [[pqFinal]] under a [[pqTrainCtes]] prefix. */
  def pqFinalP(prefix: String): String = s"${prefix}pc$Iters"

  /** DuckDB CTEs for trained-centroid IVF probing — `cent`/`aff`/
    * `assigned`/`probes` for queries vec_id < `nq` probing their
    * `nprobe` nearest lists. Requires `e` and [[centroidTrainCtes]]
    * upstream. ONE definition for the q140/q143/q144 oracles (q49 keeps
    * its own — it also surfaces the `ca` affinity value), so a change to
    * the probe rule cannot desynchronize the composed read paths.
    */
  def ivfProbeCtes(nprobe: Int, nq: Int): String =
    s"""cent AS (SELECT cid AS c_id, cv AS centv FROM $centFinal),
       |aff AS (
       |  SELECT e.vec_id, c_id,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |      ORDER BY ROUND(list_dot_product(v, centv)
       |        / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(centv, centv))), 6)
       |        DESC, c_id) AS crank
       |  FROM e, cent),
       |assigned AS (SELECT vec_id, c_id FROM aff WHERE crank = 1),
       |probes AS (SELECT vec_id AS qid, c_id FROM aff WHERE crank <= $nprobe AND vec_id < $nq)""".stripMargin

  /** The probed-candidate CTE over [[ivfProbeCtes]]'s tables: every
    * vector assigned to one of the query's probed lists, self excluded.
    * `keepListId` carries the list id through (q144 needs it — residual
    * distances are per-list).
    */
  def ivfCandCte(keepListId: Boolean): String = {
    val listCol = if (keepListId) "p.c_id, " else ""
    s"""candp AS (
       |  SELECT DISTINCT p.qid, ${listCol}a.vec_id AS cand
       |  FROM probes p JOIN assigned a ON p.c_id = a.c_id AND a.vec_id <> p.qid)""".stripMargin
  }
}
