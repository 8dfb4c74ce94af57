package graft.ops

import graft.{Q, Tables}
import graft.functions.NGrams
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-11 continuation: three corpus-curation operators a training-data
  * platform runs between ingestion and export.
  *
  *  - q175 REPETITION QUALITY RULES (Gopher-style, Rae et al. 2021 §A1.1
  *    re-expressed over token counts): per-document top-token fraction,
  *    top-bigram fraction, and duplicate-trigram fraction, plus the
  *    composite pass flag. All three n-gram families ride ONE exploded
  *    pass (posexplode over the concatenated 1/2/3-gram arrays, the gram
  *    order tag derived from the position — no triple scan), then two
  *    map-side-combinable aggregations. At 100 TB nothing is quadratic:
  *    rows ∝ corpus tokens ×3, both groupBys partial-aggregate.
  *  - q176 TF-IDF KEYWORDS: top-3 terms per document by tf·ln(N/df).
  *    df is a vocabulary-sized second aggregate of the tf frame (AQE
  *    picks broadcast when the vocab fits); N rides a broadcast 1-row
  *    cross join. The only doc-sized shuffle is the final per-doc top-k.
  *  - q177 TOKEN-BALANCED SHARD EXPORT (snake/LPT packing): rank docs by
  *    token count desc and deal them boustrophedon across 16 shards —
  *    the deterministic, order-stable analog of greedy longest-
  *    processing-time packing (complements q172's hash sharding: q172
  *    optimizes reproducibility, q177 optimizes shard balance for
  *    trainer stragglers). The global rank sorts doc METADATA only
  *    (doc_id, n_toks — 16 bytes/doc; the text never rides the sort)
  *    and runs in [[GlobalOrder]]'s two-phase distributed form —
  *    range-partitioned partials plus broadcast prefix offsets, never
  *    a single-partition window — so even at 10^10 docs no task holds
  *    more than one key range.
  *
  * All ratios are integer-count quotients (bit-identical IEEE division in
  * both engines) rounded at 6 decimals; sums of counts cast BIGINT on the
  * DuckDB side (HUGEINT trap).
  */
object Advanced17 {

  // ---------------------------------------------------------------- q175

  private val TopTokMax  = 0.20
  private val TopBiMax   = 0.20
  private val DupTriMax  = 0.30

  /** Library form: per-doc repetition profile of `docs(doc_id, text)`.
    * Documents with fewer than 3 tokens carry no trigram and are out of
    * scope (callers admit them unconditionally).
    */
  private[graft] def repetitionProfile(docs: DataFrame): DataFrame = {
    val base = TextOps.withToks(docs)
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), size(col("toks")).as("len"),
        posexplode(concat(
          NGrams.ngrams(col("toks"), 1),
          NGrams.ngrams(col("toks"), 2),
          NGrams.ngrams(col("toks"), 3))))
    val tagged = base.select(col("doc_id"),
      when(col("pos") < col("len"), 1)
        .when(col("pos") < col("len") * 2 - 1, 2)
        .otherwise(3).as("n"),
      col("col").as("gram"))
    val cnts = tagged.groupBy(col("doc_id"), col("n"), col("gram"))
      .agg(count(lit(1)).as("cnt"))
    cnts.groupBy(col("doc_id")).agg(
      max(when(col("n") === 1, col("cnt"))).as("mx1"),
      sum(when(col("n") === 1, col("cnt"))).as("tot1"),
      max(when(col("n") === 2, col("cnt"))).as("mx2"),
      sum(when(col("n") === 2, col("cnt"))).as("tot2"),
      sum(when(col("n") === 3 && col("cnt") >= 2, col("cnt")).otherwise(lit(0L))).as("dup3"),
      sum(when(col("n") === 3, col("cnt"))).as("tot3"))
  }

  /** q175: Gopher-style repetition rules over `documents`. The pass flag
    * compares the UNROUNDED quotients (identical IEEE doubles in both
    * engines); the reported fractions round at 6 decimals.
    */
  val repetitionRules = Q(
    "q175_repetition_rules",
    s"""WITH t AS (
       |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
       |  WHERE len(string_split(text, ' ')) >= 3),
       |g AS (
       |  SELECT doc_id, 1 AS n, unnest(tk) AS gram FROM t
       |  UNION ALL
       |  SELECT doc_id, 2 AS n,
       |    unnest(list_transform(range(1, len(tk)), i -> array_to_string(tk[i:i+1], ' ')))
       |  FROM t
       |  UNION ALL
       |  SELECT doc_id, 3 AS n,
       |    unnest(list_transform(range(1, len(tk)-1), i -> array_to_string(tk[i:i+2], ' ')))
       |  FROM t),
       |c AS (SELECT doc_id, n, gram, COUNT(*) AS cnt FROM g GROUP BY doc_id, n, gram),
       |p AS (
       |  SELECT doc_id,
       |    MAX(CASE WHEN n=1 THEN cnt END) AS mx1,
       |    CAST(SUM(CASE WHEN n=1 THEN cnt END) AS BIGINT) AS tot1,
       |    MAX(CASE WHEN n=2 THEN cnt END) AS mx2,
       |    CAST(SUM(CASE WHEN n=2 THEN cnt END) AS BIGINT) AS tot2,
       |    CAST(SUM(CASE WHEN n=3 AND cnt >= 2 THEN cnt ELSE 0 END) AS BIGINT) AS dup3,
       |    CAST(SUM(CASE WHEN n=3 THEN cnt END) AS BIGINT) AS tot3
       |  FROM c GROUP BY doc_id)
       |SELECT doc_id, tot1 AS n_toks,
       |  ROUND(mx1 * 1.0 / tot1, 6) AS top_tok_frac,
       |  ROUND(mx2 * 1.0 / tot2, 6) AS top_bigram_frac,
       |  ROUND(dup3 * 1.0 / tot3, 6) AS dup_trigram_frac,
       |  (mx1 * 1.0 / tot1 <= $TopTokMax AND mx2 * 1.0 / tot2 <= $TopBiMax
       |    AND dup3 * 1.0 / tot3 <= $DupTriMax) AS pass
       |FROM p ORDER BY doc_id""".stripMargin) { (s, d) =>
    repetitionProfile(Tables.documents(s, d))
      .select(col("doc_id"), col("tot1").as("n_toks"),
        round(col("mx1") * 1.0 / col("tot1"), 6).as("top_tok_frac"),
        round(col("mx2") * 1.0 / col("tot2"), 6).as("top_bigram_frac"),
        round(col("dup3") * 1.0 / col("tot3"), 6).as("dup_trigram_frac"),
        (col("mx1") * 1.0 / col("tot1") <= TopTokMax &&
          col("mx2") * 1.0 / col("tot2") <= TopBiMax &&
          col("dup3") * 1.0 / col("tot3") <= DupTriMax).as("pass"))
      .orderBy(col("doc_id"))
  }

  // ---------------------------------------------------------------- q176

  private val KeywordsK = 3

  /** Library form: top-`k` TF-IDF keywords per document. `docs(doc_id,
    * text)`; score = round(tf · ln(N/df), 6); ties break on the term.
    */
  private[graft] def tfIdfKeywords(docs: DataFrame, k: Int): DataFrame = {
    val tf = TextOps.withToks(docs)
      .select(col("doc_id"), explode(col("toks")).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).cast("double").as("n_total"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term"))
    tf.join(dfreq, Seq("term"))
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        round(col("tf") * log(col("n_total") / col("df")), 6).as("score"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("doc_id"), col("rnk"), col("term"), col("tf"), col("df"),
        col("score"))
  }

  /** q176: top-3 TF-IDF keywords for every document. A term present in
    * every document scores exactly 0 (ln 1) in both engines.
    */
  val tfIdf = Q(
    "q176_tfidf_keywords",
    s"""WITH tf AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
       |tfc AS (SELECT doc_id, term, COUNT(*) AS tf FROM tf GROUP BY doc_id, term),
       |dfc AS (SELECT term, COUNT(*) AS df FROM tfc GROUP BY term),
       |n AS (SELECT COUNT(*) * 1.0 AS n_total FROM documents),
       |scored AS (
       |  SELECT doc_id, term, tf, df,
       |    ROUND(tf * ln(n_total / df), 6) AS score,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
       |      ORDER BY ROUND(tf * ln(n_total / df), 6) DESC, term) AS INTEGER) AS rnk
       |  FROM tfc JOIN dfc USING (term) CROSS JOIN n
       |  QUALIFY rnk <= $KeywordsK)
       |SELECT doc_id, rnk, term, tf, df, score FROM scored
       |ORDER BY doc_id, rnk""".stripMargin) { (s, d) =>
    tfIdfKeywords(Tables.documents(s, d), KeywordsK)
      .orderBy(col("doc_id"), col("rnk"))
  }

  // ---------------------------------------------------------------- q177

  private val BalShards = 16

  /** Library form: boustrophedon token-balanced shard assignment of
    * `toks(doc_id, n_toks)` across `shards` shards. Rank desc by size,
    * deal row r to shard (r-1)%s on even passes and s-1-(r-1)%s on odd
    * passes, so each pass pairs a heavy tail with a light head.
    *
    * The global rank is [[GlobalOrder.rank]]'s two-phase form (range
    * partials + broadcast offsets + partition-local windows) — no
    * single-partition window anywhere, so the rank distributes across
    * the cluster at any corpus size (PlanSpec pins the shape).
    */
  private[graft] def snakeShards(toks: DataFrame, shards: Int): DataFrame =
    GlobalOrder.rank(toks, Seq(col("n_toks").desc, col("doc_id")), "rnk")
      .withColumn("shard",
        when(expr(s"(rnk - 1) div $shards % 2") === 0,
          expr(s"(rnk - 1) % $shards"))
          .otherwise(expr(s"${shards - 1} - (rnk - 1) % $shards"))
          .cast("int"))

  /** q177: 16-shard snake packing of `documents` by whitespace token
    * count, with per-shard totals and the balance ratio (shard tokens ×
    * shards / corpus tokens — 1.0 = perfectly even).
    */
  val balancedShards = Q(
    "q177_balanced_shards",
    s"""WITH t AS (
       |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
       |  FROM documents),
       |r AS (
       |  SELECT doc_id, n_toks,
       |    CAST(ROW_NUMBER() OVER (ORDER BY n_toks DESC, doc_id) AS INTEGER) AS rnk
       |  FROM t),
       |a AS (
       |  SELECT doc_id, n_toks,
       |    CASE WHEN ((rnk - 1) // $BalShards) % 2 = 0 THEN (rnk - 1) % $BalShards
       |         ELSE ${BalShards - 1} - (rnk - 1) % $BalShards END AS shard
       |  FROM r),
       |g AS (
       |  SELECT CAST(shard AS INTEGER) AS shard,
       |    CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(n_toks) AS BIGINT) AS sum_toks,
       |    CAST(MAX(n_toks) AS BIGINT) AS max_doc_toks
       |  FROM a GROUP BY shard)
       |SELECT shard, n_docs, sum_toks, max_doc_toks,
       |  ROUND(sum_toks * $BalShards.0 / (SELECT SUM(n_toks) * 1.0 FROM t), 6) AS balance
       |FROM g ORDER BY shard""".stripMargin) { (s, d) =>
    val toks = Tables.documents(s, d)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_toks"))
    val g = snakeShards(toks, BalShards)
      .groupBy(col("shard").cast("int").as("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("sum_toks"),
        max(col("n_toks")).as("max_doc_toks"))
    // Corpus total as a broadcast 1-row aggregate (q176's pattern), not
    // an empty-partition window — keeps the plan free of global windows.
    val tot = toks.agg(sum(col("n_toks")).as("__tot"))
    g.crossJoin(broadcast(tot))
      .withColumn("balance",
        round(col("sum_toks") * BalShards.toDouble / col("__tot"), 6))
      .drop("__tot")
      .orderBy(col("shard"))
  }

  // ---------------------------------------------------------------- q187

  /** q187: manifest for the BALANCED shards — the per-shard receipt a
    * trainer actually consumes. q172 receipts the hash sharding
    * (reproducibility-first) and q177 reports balance with no receipt;
    * this composes them: q177's snake assignment, q172's audit columns,
    * and the same XOR-fold 48-bit-md5 content checksum (BIGINT-exact in
    * both engines, < 2^53 so any reader canonicalization round-trips
    * it). Scale shape: [[snakeShards]]' distributed two-phase rank over
    * doc metadata, then one map-side-combinable aggregation.
    */
  val balancedManifest = Q(
    "q187_balanced_manifest",
    s"""WITH t AS (
       |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
       |    ('0x' || substr(md5(text), 1, 12))::BIGINT AS h48
       |  FROM documents),
       |r AS (
       |  SELECT doc_id, n_toks, h48,
       |    CAST(ROW_NUMBER() OVER (ORDER BY n_toks DESC, doc_id) AS BIGINT) AS rnk
       |  FROM t),
       |a AS (
       |  SELECT doc_id, n_toks, h48,
       |    CASE WHEN ((rnk - 1) // $BalShards) % 2 = 0 THEN (rnk - 1) % $BalShards
       |         ELSE ${BalShards - 1} - (rnk - 1) % $BalShards END AS shard
       |  FROM r)
       |SELECT CAST(shard AS INTEGER) AS shard,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(n_toks) AS BIGINT) AS sum_toks,
       |  CAST(MIN(doc_id) AS BIGINT) AS min_doc,
       |  CAST(MAX(doc_id) AS BIGINT) AS max_doc,
       |  bit_xor(h48) AS checksum
       |FROM a GROUP BY shard ORDER BY shard""".stripMargin) { (s, d) =>
    val base = Tables.documents(s, d).select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_toks"),
      expr("CAST(conv(substr(md5(text), 1, 12), 16, 10) AS BIGINT)").as("h48"))
    snakeShards(base, BalShards)
      .groupBy(col("shard").cast("int").as("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("sum_toks"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"),
        expr("bit_xor(h48)").as("checksum"))
      .orderBy(col("shard"))
  }

  val specs: Seq[Q] = Seq(repetitionRules, tfIdf, balancedShards, balancedManifest)
}
