package graft.ops

import graft.{Q, Tables}
import graft.functions.{CosineSim, DotProduct, VectorFunctions}
import graft.functions.VectorFunctions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over the `embeddings` table (`array<float>`, dim 64).
  *
  * Two paths, per the north-star brief:
  *  - q34: brute-force cosine top-k — the exactness baseline. The query
  *    side is a handful of vectors, broadcast against the candidate scan:
  *    at scale this is one pass over the candidate table per batch of
  *    queries, embarrassingly parallel, no shuffle until top-k.
  *  - q35: random-hyperplane LSH bucketing — the scale path. Signatures
  *    are computed distributedly (candidates × 8 broadcast planes →
  *    sign-bit fold), then the search space shrinks to same-bucket
  *    collisions. At 100 TB the bucketed join replaces the full scan.
  *
  * All math in double (float inputs upcast) so the DuckDB oracle
  * (list_dot_product over DOUBLE[]) agrees to < 1e-12, then rounded to 6.
  * Dot products use the codegen'd [[graft.functions.DotProduct]] expression
  * (`DotProduct.dot`) rather than interpreted zip_with/aggregate
  * lambdas — same sequential summation order, ~2× faster scan.
  */
object VectorSearch {

  private[ops] def emb(s: SparkSession, d: String): DataFrame = {
    Tables.embeddings(s, d).select(col("vec_id"), asDouble(col("embedding")).as("v"))
  }

  private def cosExpr(a: String, b: String) =
    round(CosineSim.cosine(col(a), col(b)), 6)

  /** Brute-force cosine top-5 neighbors for query vectors vec_id < 10. */
  val annBruteForce = Q(
    "q34_ann_cosine_topk",
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 10),
      |sims AS (
      |  SELECT q_id, e.vec_id AS c_id,
      |    ROUND(list_dot_product(qv, v)
      |      / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))), 6) AS sim
      |  FROM q, e WHERE q_id <> e.vec_id)
      |SELECT q_id, rank, c_id, sim FROM (
      |  SELECT q_id, c_id, sim,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS INTEGER) AS rank
      |  FROM sims) t
      |WHERE rank <= 5
      |ORDER BY q_id, rank""".stripMargin) { (s, d) =>
    val e = emb(s, d)
    val q = e.select(col("vec_id").as("q_id"), col("v").as("qv")).filter(col("q_id") < 10)
    val sims = e.crossJoin(broadcast(q))
      .filter(col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id").as("c_id"), cosExpr("qv", "v").as("sim"))
    val wk = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("c_id"))
    sims.withColumn("rank", row_number().over(wk))
      .filter(col("rank") <= 5)
      .select(col("q_id"), col("rank"), col("c_id"), col("sim"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** LSH-bucketed ANN: 8 hyperplanes (the first 8 embeddings, a
    * deterministic stand-in for random planes) → 4 bands × 2 sign bits →
    * OR-amplified candidates (pairs colliding in ANY band) → cosine top-3
    * per query.
    *
    * Banding matters at corpus scale: a single 8-bit signature collides
    * with probability (1-θ/π)^8 — a recall cliff for genuinely-near pairs.
    * Four 2-bit bands keep per-band join fan-out bounded while
    * 1-(1-p²)⁴ ≥ p⁸ recovers the recall (same structure as q32's 8×2
    * MinHash bands). Recall vs the exact q34 top-k is asserted in
    * TextVectorSpec.
    */
  val annLsh = Q(
    "q35_ann_lsh_bucketed",
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |planes AS (SELECT vec_id AS p_id, v AS pv FROM e WHERE vec_id < 8),
      |bits AS (
      |  SELECT e.vec_id, p_id,
      |    CASE WHEN list_dot_product(v, pv) > 0 THEN 1 ELSE 0 END AS bit
      |  FROM e, planes),
      |bands AS (
      |  SELECT vec_id, CAST(p_id // 2 AS BIGINT) AS b,
      |    CAST(SUM(bit << CAST(p_id % 2 AS INTEGER)) AS BIGINT) AS bsig
      |  FROM bits GROUP BY vec_id, p_id // 2),
      |${LshGuard.capCteSql("bcap", "bands", Seq("vec_id", "b", "bsig"), Seq("b", "bsig"), "vec_id")},
      |cand AS (
      |  SELECT DISTINCT qb.vec_id AS q_id, cb.vec_id AS c_id
      |  FROM bands qb JOIN bcap cb
      |    ON qb.b = cb.b AND qb.bsig = cb.bsig AND cb.vec_id <> qb.vec_id
      |  WHERE qb.vec_id < 10),
      |sims AS (
      |  SELECT q_id, c_id,
      |    ROUND(list_dot_product(qe.v, ce.v)
      |      / (sqrt(list_dot_product(qe.v, qe.v)) * sqrt(list_dot_product(ce.v, ce.v))), 6) AS sim
      |  FROM cand JOIN e qe ON qe.vec_id = q_id JOIN e ce ON ce.vec_id = c_id)
      |SELECT q_id, rank, c_id, sim FROM (
      |  SELECT q_id, c_id, sim,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS INTEGER) AS rank
      |  FROM sims) t
      |WHERE rank <= 3
      |ORDER BY q_id, rank""".stripMargin) { (s, d) =>
    val e = emb(s, d)
    val planes = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("p_id"), col("v").as("pv"))
    // (vec_id, band, band-signature): one narrow scan × 8 broadcast planes,
    // partial-aggregated to 4 rows/vector before any shuffle. Materialized
    // ONCE — three consumers read it (the query bands, the cap's pass-1
    // aggregate, the cap's probe side); un-materialized, the crossJoin +
    // aggregate build re-ran per consumer (the r15 steady flag's measured
    // mechanism — the per-run band-table constant).
    val bands = e.crossJoin(broadcast(planes))
      .select(col("vec_id"), col("p_id"),
        when(DotProduct.dot(col("v"), col("pv")) > 0, 1).otherwise(0).as("bit"))
      .groupBy(col("vec_id"), expr("p_id div 2").cast("long").as("b"))
      .agg(sum(expr("shiftleft(bit, CAST(p_id % 2 AS INT))")).as("bsig"))
      .localCheckpoint(true)
    val qBands = bands.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("b").as("qb"), col("bsig").as("qsig"))
    // hot-bucket guard on the corpus side (queries keep all their bands):
    // a dominant-direction bucket can't flood every query's candidate set
    val capped = LshGuard.capBuckets(s, bands, Seq("b", "bsig"), "vec_id",
      tag = "annlsh", materialize = false)
    // OR-amplification: a pair qualifies if ANY band collides → distinct.
    val cand = broadcast(qBands).join(capped.as("c"),
        col("qb") === col("c.b") && col("qsig") === col("c.bsig") &&
          col("c.vec_id") =!= col("q_id"))
      .select(col("q_id"), col("c.vec_id").as("c_id"))
      .distinct()
    val sims = cand
      .join(e.select(col("vec_id").as("q_id"), col("v").as("qv")), Seq("q_id"))
      .join(e.select(col("vec_id").as("c_id"), col("v").as("cv")), Seq("c_id"))
      .select(col("q_id"), col("c_id"), cosExpr("qv", "cv").as("sim"))
    val wk = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("c_id"))
    sims.withColumn("rank", row_number().over(wk))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("rank"), col("c_id"), col("sim"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** SCALE-PATH near-duplicate pairs over an UNBOUNDED embedding set —
    * the primary form of embedding near-dup detection (q141 registers
    * it; q42's bounded exact form is its ground-truth harness).
    *
    * Hyperplane-sign LSH banding buckets the corpus (`planes` rows are
    * (p_id, pv), p_id dense from 0; `bandBits` consecutive planes form
    * one band signature), a pair becomes a CANDIDATE iff it collides in
    * ≥ 1 band (OR-amplification), and the exact cosine verify keeps
    * candidates ≥ `threshold` with their true similarity. Precision is
    * 1.0 by construction — every emitted pair passed the exact check;
    * recall is the band-collision probability 1-(1-p^bandBits)^nBands
    * for per-plane agreement p (measured ~0.5 at threshold 0.4 with 16
    * seed planes on the test corpus — TextVectorSpec pins it;
    * production planes are tuned/random, not the first-16 stand-in).
    * Never all-pairs: the only joins are band-key equi-joins and the
    * candidate-confined verify — q32's MinHash shape on sign bits.
    */
  /** [[nearDupPairs]] with BANDING SIZED TO THE CORPUS. Sign-LSH keeps
    * E[bucket size] = n / 2^bandBits, so any FIXED bit width goes
    * quadratic as the corpus grows: the round-8 10× rehearsal measured
    * q141's 4-bit form at ~73× the cost for 10× the rows (bucket
    * occupancy grew 10×, candidate pairs ~100×, and the 4096 bucket cap
    * never bound at ~1250 members). This form counts the corpus once
    * and picks bandBits = clamp(4..20, ceil(log2(n / targetBucket))),
    * holding expected occupancy ≈ targetBucket at ANY n — candidate
    * volume stays ~linear. Planes are the first nBands·bandBits corpus
    * vectors (q141's seed recipe; production supplies tuned/random
    * planes). EXACT duplicates collide in every band whatever the
    * width (identical signs), so dedup-grade recall is unaffected;
    * loose-threshold recall narrows with width exactly as the
    * [[nearDupPairs]] scaladoc derives — widen nBands to compensate.
    * q141 registers THIS form (round 9): at every testdata SF the
    * formula resolves to the same 4-bit banding as the static oracle
    * recipe (≤2k vectors → ceil(log2(n/128)) ≤ 4), so the hard gate
    * exercises the production scale-safe path with an unchanged oracle
    * string — LshGuardSpec pins that equivalence so a future
    * testdata-size change fails loudly there, not as a silent
    * hash mismatch.
    */
  def nearDupPairsAuto(e: DataFrame, nBands: Int, threshold: Double,
      targetBucket: Int = 128,
      bucketCap: Int = LshGuard.BucketCap): DataFrame = {
    import e.sparkSession.implicits._
    val n = e.count()
    val bandBits = autoBandBits(n, targetBucket)
    val need = nBands * bandBits
    // The plane budget is nBands·bandBits ≤ 4·20-ish rows — collect the
    // seed vectors ONCE and run the health checks driver-side, so the
    // whole seeding costs one bounded job instead of three (count /
    // distinct-count / checkpoint were measurable steady overhead on
    // the registered q141).
    val seed = e.orderBy(col("vec_id")).limit(need)
      .select(col("v")).collect().map(_.getSeq[Double](0))
    // Seed-plane health (round-8 advice): a corpus smaller than the
    // plane budget would silently yield fewer hyperplanes — and so
    // weaker banding — than the computed bandBits implies; duplicate
    // leading vectors degrade it the same way (collinear planes split
    // no buckets). Shortage is a hard error; duplicates only a warning
    // because exact-dup-heavy corpora are legitimate inputs.
    require(seed.length == need,
      s"corpus has $n vectors but $need seed planes are " +
        s"needed for $nBands bands x $bandBits bits - supply explicit " +
        "planes via nearDupPairs, or shrink nBands/targetBucket")
    val distinctPlanes = seed.distinct.length
    if (distinctPlanes < need)
      System.err.println(
        s"WARN nearDupPairsAuto: only $distinctPlanes of $need seed " +
          "planes are distinct vectors - collinear planes weaken banding; " +
          "consider supplying tuned/random planes via nearDupPairs")
    val planes = seed.zipWithIndex
      .map { case (pv, i) => (i, pv) }.toSeq.toDF("p_id", "pv")
    nearDupPairs(e, planes, bandBits, threshold, bucketCap)
  }

  /** Corpus-sized LSH band width: bandBits = clamp(4..20,
    * ceil(log2(n / targetBucket))) holds expected bucket occupancy at
    * ~targetBucket for any corpus size (see [[nearDupPairsAuto]]).
    * Exposed so tests can pin the resolved width at oracle scale.
    */
  def autoBandBits(n: Long, targetBucket: Int = 128): Int =
    math.max(4, math.min(20,
      math.ceil(math.log(math.max(1.0, n.toDouble / targetBucket)) /
        math.log(2.0)).toInt))

  def nearDupPairs(e: DataFrame, planes: DataFrame, bandBits: Int,
      threshold: Double, bucketCap: Int = LshGuard.BucketCap): DataFrame = {
    val bands = e.crossJoin(broadcast(planes))
      .select(col("vec_id"), col("p_id"),
        when(DotProduct.dot(col("v"), col("pv")) > 0, 1).otherwise(0).as("bit"))
      .groupBy(col("vec_id"), expr(s"p_id div $bandBits").cast("long").as("b"))
      .agg(sum(expr(s"shiftleft(bit, CAST(p_id % $bandBits AS INT))")).as("bsig"))
    // hot-bucket guard: embeddings clustered around a dominant direction
    // share one (b, bsig) bucket — cap membership before the self-join so
    // a degenerate bucket can't go quadratic (drops are observed+logged)
    val capped = LshGuard.capBuckets(e.sparkSession, bands,
      Seq("b", "bsig"), "vec_id", bucketCap, tag = "neardup")
    val cand = capped.as("qb").join(capped.as("cb"),
        col("qb.b") === col("cb.b") && col("qb.bsig") === col("cb.bsig") &&
          col("qb.vec_id") < col("cb.vec_id"))
      .select(col("qb.vec_id").as("da"), col("cb.vec_id").as("db"))
      .distinct()
    cand
      .join(e.select(col("vec_id").as("da"), col("v").as("va")), Seq("da"))
      .join(e.select(col("vec_id").as("db"), col("v").as("vb")), Seq("db"))
      .withColumn("sim_raw", CosineSim.cosine(col("va"), col("vb")))
      .filter(col("sim_raw") >= threshold)
      .select(col("da"), col("db"), round(col("sim_raw"), 6).as("sim"))
  }

  /** [[nearDupPairsAuto]] registered over the FULL embeddings table —
    * no corpus bound anywhere: 4 bands, threshold 0.4, band width SIZED
    * TO THE CORPUS (round 9: the hard gate now exercises the production
    * scale-safe path; round 8 measured the fixed-width form DNF at
    * 100× while auto stayed bounded). The static oracle recipe — 16
    * seed planes, 4 bands × 4 sign bits — is exactly what auto resolves
    * to at every testdata SF (n ≤ 2048 → bandBits = 4, planes = the
    * first 16 vectors), an equivalence LshGuardSpec pins so a testdata
    * regeneration that crosses the width boundary fails loudly there.
    * The oracle expresses the identical banding + verify semantics (the
    * q32 LSH precedent), so the hash check proves the bucketed
    * computation, not a pairwise demo.
    */
  val nearDupBucketed = Q(
    "q141_neardup_bucketed",
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |planes AS (SELECT vec_id AS p_id, v AS pv FROM e WHERE vec_id < 16),
      |bits AS (
      |  SELECT e.vec_id, p_id,
      |    CASE WHEN list_dot_product(v, pv) > 0 THEN 1 ELSE 0 END AS bit
      |  FROM e, planes),
      |bands AS (
      |  SELECT vec_id, CAST(p_id // 4 AS BIGINT) AS b,
      |    CAST(SUM(bit << CAST(p_id % 4 AS INTEGER)) AS BIGINT) AS bsig
      |  FROM bits GROUP BY vec_id, p_id // 4),
      |${LshGuard.capCteSql("bcap", "bands", Seq("vec_id", "b", "bsig"), Seq("b", "bsig"), "vec_id")},
      |cand AS (
      |  SELECT DISTINCT qb.vec_id AS da, cb.vec_id AS db
      |  FROM bcap qb JOIN bcap cb
      |    ON qb.b = cb.b AND qb.bsig = cb.bsig AND qb.vec_id < cb.vec_id)
      |SELECT da, db,
      |  ROUND(list_dot_product(a.v, b.v)
      |    / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS sim
      |FROM cand JOIN e a ON a.vec_id = da JOIN e b ON b.vec_id = db
      |WHERE list_dot_product(a.v, b.v)
      |    / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.4
      |ORDER BY da, db""".stripMargin) { (s, d) =>
    nearDupPairsAuto(emb(s, d), nBands = 4, threshold = 0.4)
      .orderBy(col("da"), col("db"))
  }

  /** Embedding-cosine near-duplicate pairs — the EXACT form, kept as
    * q141's ground-truth harness: its domain is deliberately bounded
    * (vec_id < 300, the oracle's domain) because exact all-pairs is
    * quadratic by definition; the production operator is
    * [[nearDupPairs]]/q141, which has no bound. TextVectorSpec measures
    * q141's recall against this exact set.
    */
  val embeddingNearDup = Q(
    "q42_embedding_neardup",
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      |           WHERE vec_id < 300)
      |SELECT a.vec_id AS da, b.vec_id AS db,
      |  ROUND(list_dot_product(a.v, b.v)
      |    / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS sim
      |FROM e a JOIN e b ON a.vec_id < b.vec_id
      |WHERE list_dot_product(a.v, b.v)
      |    / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.4
      |ORDER BY da, db""".stripMargin) { (s, d) =>
    val e = emb(s, d).filter(col("vec_id") < 300)
    val a = e.select(col("vec_id").as("da"), col("v").as("va"))
    val b = e.select(col("vec_id").as("db"), col("v").as("vb"))
    a.crossJoin(broadcast(b))
      .filter(col("da") < col("db"))
      .withColumn("sim_raw", CosineSim.cosine(col("va"), col("vb")))
      .filter(col("sim_raw") >= 0.4)
      .select(col("da"), col("db"), round(col("sim_raw"), 6).as("sim"))
      .orderBy(col("da"), col("db"))
  }

  val specs: Seq[Q] = Seq(annBruteForce, annLsh, embeddingNearDup,
    nearDupBucketed)
}
