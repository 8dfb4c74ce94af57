package graft.ops

import graft.{Q, Tables}
import graft.functions.{DotProduct, SimHash60}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Fourth advanced batch (round 3): SimHash hamming near-dup pairs with
  * exactness-guaranteed banding, Gopher-style repetition quality, bigram
  * language-model stats, a full 2-iteration Lloyd k-means, and partitioned
  * quantile bucketing.
  *
  * Scale notes: q77's band join touches O(n) band rows and verifies only
  * colliding pairs with a codegen'd `bit_count(xor)`; q78/q79 are
  * explode→partial-agg shapes (map-side combine shrinks the shuffle to
  * distinct keys); q80 broadcasts k=8 centroids so each Lloyd pass is one
  * scan with no fact-side shuffle beyond the per-dim recompute; q81 keys
  * the ntile window by segment so the sort parallelizes across partitions
  * (a global un-partitioned ntile would serialize the table through one
  * task — the shape this query deliberately avoids).
  */
object Advanced4 {

  /** SimHash near-duplicate PAIRS (q33 computes signatures; this is the
    * pairing stage a dedup pipeline actually consumes). 60-bit signature
    * (15 hex chars of md5 per distinct token, majority vote per bit),
    * split into 2 bands of 30 bits. Pigeonhole guarantee: hamming(a,b) <= 1
    * can flip bits in at most one band, so at least one band matches
    * exactly — banding finds EVERY qualifying pair, it is not approximate.
    * The oracle therefore uses the O(n²) self-join form; results are
    * provably identical.
    *
    * The signature build is the native `graft_simhash60` expression: the
    * whole 60-bit majority vote computes in one narrow codegen'd
    * projection per document — no token explode, no 60-column aggregate,
    * no shuffle before the band join (contrast q33's compact declarative
    * form, acceptable there because signatures are the final output;
    * here they feed a join and stay on the hot path).
    */
  val simhashNeardup = Q(
    "q77_simhash_neardup",
    """WITH hs AS (
      |  SELECT doc_id, list_transform(list_distinct(string_split(text,' ')),
      |    x -> ('0x' || substr(md5(x),1,15))::BIGINT) AS h FROM documents),
      |sim AS (
      |  SELECT doc_id, CAST(list_sum(list_transform(range(0,60), b ->
      |    CASE WHEN list_sum(list_transform(h, v ->
      |           CASE WHEN ((v >> b) & 1) = 1 THEN 1 ELSE -1 END)) > 0
      |         THEN (1::BIGINT << b) ELSE 0 END)) AS BIGINT) AS simhash FROM hs)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
      |FROM sim a JOIN sim b ON a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.simhash, b.simhash)) <= 1
      |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
    // Materialize signatures before the self-join: without this the scan +
    // simhash projection plans TWICE (once per join side) — at corpus
    // scale that's 2x the whole signature pass. After the checkpoint both
    // sides read the (tiny: one long per doc) sig table.
    val sigs = simhash60(Tables.documents(s, d)).localCheckpoint()
    val bandMask = (1L << 30) - 1
    val bands = sigs.select(col("doc_id"), col("simhash"),
      posexplode(array(
        col("simhash").bitwiseAND(lit(bandMask)),
        shiftright(col("simhash"), 30).bitwiseAND(lit(bandMask)))).as(Seq("band", "bv")))
    bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bv") === col("y.bv") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        expr("CAST(bit_count(x.simhash ^ y.simhash) AS INT)").as("hamming"))
      .filter(col("hamming") <= 1)
      .distinct() // a pair agreeing in both bands collides twice
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** 60-bit SimHash per doc via the native [[graft.functions.SimHash60]]
    * expression — ONE narrow projection, no explode, no 60-column
    * aggregate, no shuffle (see its scaladoc for the bit definition).
    * Package-visible so Advanced4Spec can brute-force the same signatures.
    */
  private[graft] def simhash60(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      SimHash60.simhash60(array_distinct(split(col("text"), " "))).as("simhash"))

  /** Gopher-style repetition quality: token counts, distinct-token ratio,
    * top-token mass fraction, and a drop verdict. Two-level aggregate —
    * both levels partial-aggregate map-side, so the shuffle carries
    * (doc, distinct-token) keys, never raw token instances. The verdict
    * flag compares the RAW IEEE ratios (one division — bit-identical in
    * both engines), not the display-rounded ones.
    */
  val repetitionQuality = Q(
    "q78_repetition_quality",
    """WITH t AS (SELECT doc_id, unnest(string_split(text,' ')) AS tok FROM documents),
      |c AS (SELECT doc_id, tok, COUNT(*) AS cnt FROM t GROUP BY 1,2),
      |a AS (SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_tokens,
      |        COUNT(*) AS n_distinct, MAX(cnt) AS top_cnt FROM c GROUP BY 1)
      |SELECT doc_id, n_tokens, n_distinct,
      |  ROUND(n_distinct*1.0/n_tokens, 4) AS distinct_ratio,
      |  ROUND(top_cnt*1.0/n_tokens, 4) AS top_token_frac,
      |  CASE WHEN n_distinct*1.0/n_tokens < 0.4 OR top_cnt*1.0/n_tokens > 0.15
      |       THEN 'repetitive' ELSE 'ok' END AS verdict
      |FROM a ORDER BY doc_id""".stripMargin) { (s, d) =>
    val t = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
    val c = t.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("cnt"))
    val a = c.groupBy(col("doc_id")).agg(
      sum(col("cnt")).as("n_tokens"),
      count(lit(1)).as("n_distinct"),
      max(col("cnt")).as("top_cnt"))
    a.select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        round(col("n_distinct") * 1.0 / col("n_tokens"), 4).as("distinct_ratio"),
        round(col("top_cnt") * 1.0 / col("n_tokens"), 4).as("top_token_frac"),
        when(col("n_distinct") * 1.0 / col("n_tokens") < 0.4 ||
             col("top_cnt") * 1.0 / col("n_tokens") > 0.15, "repetitive")
          .otherwise("ok").as("verdict"))
      .orderBy(col("doc_id"))
  }

  /** Top-3 bigrams per language — n-gram LM statistics. Adjacency comes
    * from a lead() window keyed by doc (tokens of one doc co-locate; no
    * interpreted array lambdas), then one partial-agg'd groupBy over
    * (lang, bigram). Heavy-hitter languages are fine: partial aggregation
    * collapses each mapper's local counts before the shuffle.
    */
  val bigramStats = Q(
    "q79_bigram_stats",
    """WITH t AS (SELECT doc_id, lang, string_split(text,' ') AS toks FROM documents),
      |x AS (SELECT doc_id, lang, unnest(toks) AS tok,
      |        generate_subscripts(toks, 1) AS pos FROM t),
      |bg AS (SELECT lang, tok || ' ' || lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS bigram FROM x),
      |c AS (SELECT lang, bigram, COUNT(*) AS cnt FROM bg
      |      WHERE bigram IS NOT NULL GROUP BY 1,2),
      |r AS (SELECT lang, bigram, cnt, CAST(ROW_NUMBER() OVER (
      |        PARTITION BY lang ORDER BY cnt DESC, bigram) AS INTEGER) AS rnk FROM c)
      |SELECT lang, rnk, bigram, cnt FROM r WHERE rnk <= 3
      |ORDER BY lang, rnk""".stripMargin) { (s, d) =>
    val x = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
    val wAdj = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    // concat (not concat_ws) so the doc-final token yields NULL, matching
    // the oracle's `tok || ' ' || NULL`.
    val bg = x.select(col("lang"),
      concat(col("tok"), lit(" "), lead(col("tok"), 1).over(wAdj)).as("bigram"))
    val c = bg.filter(col("bigram").isNotNull)
      .groupBy(col("lang"), col("bigram")).agg(count(lit(1)).as("cnt"))
    val wTop = Window.partitionBy(col("lang")).orderBy(col("cnt").desc, col("bigram"))
    c.withColumn("rnk", row_number().over(wTop))
      .filter(col("rnk") <= 3)
      .select(col("lang"), col("rnk"), col("bigram"), col("cnt"))
      .orderBy(col("lang"), col("rnk"))
  }

  /** Full Lloyd k-means, k=8, 2 iterations (q49's coarse quantizer is one
    * assignment pass; q75 is one centroid recompute; this closes the
    * loop). Centroids broadcast — each assignment pass is a single scan
    * of the fleet with a codegen'd distance (||x||² - 2x·c + ||c||² via
    * `graft_dot`), never a fact-side shuffle. The recompute is a per-dim
    * decimal average (order-independent, so the oracle's centroids are
    * bit-identical), distances are ranked at 6 decimals with a cid
    * tie-break, and inertia sums the rounded distances exactly.
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
    val c0 = e.filter(col("vec_id") < 8)
      .select(col("vec_id").cast("int").as("cid"), col("v").as("cv"))

    // argmin as min(struct(dist, cid)): the k candidate rows for one
    // vector are produced in the SAME task (the broadcast join preserves
    // the scan partitioning), so the PARTIAL aggregate collapses k rows
    // to 1 before the shuffle — the shuffle carries one row per vector,
    // never k. (Struct mins plan as SortAggregate — struct buffers are
    // not hash-aggregable — which costs a local sort, same as the
    // row_number/WindowGroupLimit alternative; the map-side collapse is
    // the property that matters at fleet scale.) Struct comparison
    // orders by (dist, cid) — the oracle's ROW_NUMBER tie-break.
    // ||v||² hoists to one dot per VECTOR and ||c||² to one per CENTROID
    // (inside the broadcast build), so the k-wide inner loop computes a
    // single dot product per pair — (vv - 2·v·c) + cc associates exactly
    // like the oracle's inline form, so the rounded dist is bit-identical.
    val eVv = e.withColumn("vv", DotProduct.dot(col("v"), col("v")))
    def assign(cent: DataFrame): DataFrame =
      eVv.crossJoin(broadcast(cent.withColumn("cc", DotProduct.dot(col("cv"), col("cv")))))
        .select(col("vec_id"), col("v"),
          struct(
            round(col("vv") - lit(2) * DotProduct.dot(col("v"), col("cv")) + col("cc"), 6).as("dist"),
            col("cid")).as("dc"))
        .groupBy(col("vec_id"))
        .agg(min(col("dc")).as("m"), first(col("v")).as("v")) // v constant per vec_id
        .select(col("vec_id"), col("m.cid").as("cid"), col("v"), col("m.dist").as("dist"))

    val a1 = assign(c0)
    val m1 = a1.select(col("cid"), posexplode(col("v")).as(Seq("dim", "val")))
      .groupBy(col("cid"), col("dim"))
      .agg((sum(col("val").cast("decimal(20,10)")).cast("double") / count(lit(1))).as("cval"))
    // k×64 rows: the transform lambda is interpreted but runs over 8 arrays.
    val c1 = m1.groupBy(col("cid"))
      .agg(array_sort(collect_list(struct(col("dim"), col("cval")))).as("pairs"))
      .select(col("cid"), expr("transform(pairs, p -> p.cval)").as("cv"))
    assign(c1)
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n_members"),
        sum(col("dist").cast("decimal(28,6)")).cast("double").as("inertia"))
      .orderBy(col("cid"))
  }

  /** Decile bucketing of customers by balance WITHIN market segment —
    * the training-data-mixing shape (stratify, then quota per stratum).
    * ntile is keyed by segment so the window sort runs parallel per
    * partition; ties break on c_custkey for cross-engine determinism.
    */
  val quantileBuckets = Q(
    "q81_quantile_buckets",
    """WITH b AS (
      |  SELECT c_mktsegment, c_acctbal,
      |    CAST(ntile(10) OVER (PARTITION BY c_mktsegment
      |      ORDER BY c_acctbal, c_custkey) AS INTEGER) AS bucket
      |  FROM customer)
      |SELECT c_mktsegment, bucket, COUNT(*) AS n,
      |  ROUND(MIN(c_acctbal),2) AS lo, ROUND(MAX(c_acctbal),2) AS hi,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM b GROUP BY 1,2 ORDER BY c_mktsegment, bucket""".stripMargin) { (s, d) =>
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("c_acctbal"), col("c_custkey"))
    Tables.customer(s, d)
      .select(col("c_mktsegment"), col("c_acctbal"), col("c_custkey"))
      .withColumn("bucket", ntile(10).over(w))
      .groupBy(col("c_mktsegment"), col("bucket"))
      .agg(count(lit(1)).as("n"),
        round(min(col("c_acctbal")), 2).as("lo"),
        round(max(col("c_acctbal")), 2).as("hi"),
        graft.Det.dsum(col("c_acctbal")).as("total"))
      .orderBy(col("c_mktsegment"), col("bucket"))
  }

  def specs: Seq[Q] =
    Seq(simhashNeardup, repetitionQuality, bigramStats, kmeansLloyd, quantileBuckets)
}
