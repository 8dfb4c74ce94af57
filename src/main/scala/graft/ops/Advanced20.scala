package graft.ops

import graft.{Q, Tables}
import graft.functions.CosineSim
import graft.sources.ZOrder
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-12 additions: three corpus-curation operators between scoring
  * and export.
  *
  *  - q188 TOKEN-BUDGET SELECTION: the data-selection primitive — rank
  *    the corpus by a quality score and admit documents in rank order
  *    until a global token budget is exhausted (the greedy budget fill
  *    every "train on the best N tokens" recipe reduces to). The global
  *    running sum is [[GlobalOrder.runningSum]]'s two-phase distributed
  *    form over doc metadata (score, n_toks — the text never rides the
  *    sort); the score here is a self-contained lexical-diversity ×
  *    length proxy (distinct-token ratio × ln(n+1)), the slot any
  *    trained scorer (q157's classifier) plugs into.
  *  - q189 EXACT LENGTH PERCENTILES per source: distributed selection
  *    by rank arithmetic — row_number per source + the integer-exact
  *    rank `(p·n + 99) div 100` (= ceil(p·n/100), no float percentile
  *    semantics to desynchronize between engines). The window
  *    partitions BY SOURCE, so scale is bounded by the largest single
  *    source; at extreme per-source sizes the documented paths are
  *    [[GlobalOrder]] per source or `approx_percentile` (estimate).
  *  - q190 CROSS-SOURCE CONTAMINATION MATRIX: which source pairs share
  *    near-duplicates — the audit that catches one feed re-crawling
  *    another. Rides the ONE shared MinHash base ([[TextOps.minhashSigs]]
  *    / [[TextOps.minhashCandidates]], `graft.Shared`-cached, LshGuard-
  *    capped band join — never all-pairs), then joins doc→source and
  *    aggregates pair counts per unordered source pair.
  */
object Advanced20 {

  // ---------------------------------------------------------------- q188

  private val TokenBudget = 10000

  /** Shared quality proxy for the budget-selection family (q188/q194):
    * distinct-token ratio × ln(n_toks + 1), rounded at 6 decimals —
    * integer-derived quotient times an engine-native ln, bit-identical
    * in both engines. Emits (doc_id, source, n_toks, score).
    */
  private def withQualityScore(docs: DataFrame): DataFrame =
    docs.withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"), col("source"),
        size(col("toks")).cast("long").as("n_toks"),
        round(size(array_distinct(col("toks"))) * 1.0 / size(col("toks"))
          * log(size(col("toks")) + 1), 6).as("score"))

  /** Library form: greedy budget fill of `scored(doc_id, n_toks, score)`
    * — admit in (score desc, doc_id) order while the inclusive running
    * token total stays within `budget`.
    */
  private[graft] def budgetSelect(scored: DataFrame, budget: Long): DataFrame =
    GlobalOrder.runningSum(scored,
        Seq(col("score").desc, col("doc_id")), col("n_toks"), "cum_toks")
      .filter(col("cum_toks") <= budget)

  /** q188: top-quality documents within a 10k-token budget. Score =
    * round(distinct-token ratio × ln(n_toks + 1), 6) — integer-derived
    * quotient times an engine-native ln, bit-identical in both engines;
    * ties break on doc_id.
    */
  val budgetSelection = Q(
    "q188_budget_select",
    s"""WITH t AS (
       |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
       |s AS (
       |  SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_toks,
       |    ROUND(len(list_distinct(tk)) * 1.0 / len(tk) * ln(len(tk) + 1), 6) AS score
       |  FROM t),
       |c AS (
       |  SELECT doc_id, n_toks, score,
       |    CAST(SUM(n_toks) OVER (ORDER BY score DESC, doc_id
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_toks
       |  FROM s)
       |SELECT doc_id, n_toks, score, cum_toks FROM c
       |WHERE cum_toks <= $TokenBudget ORDER BY score DESC, doc_id""".stripMargin) { (s, d) =>
    val scored = withQualityScore(Tables.documents(s, d))
      .select(col("doc_id"), col("n_toks"), col("score"))
    budgetSelect(scored, TokenBudget)
      .select(col("doc_id"), col("n_toks"), col("score"), col("cum_toks"))
      .orderBy(col("score").desc, col("doc_id"))
  }

  // ---------------------------------------------------------------- q189

  /** q189: exact p50/p90/p99 token-count percentiles per source, by rank
    * selection: value at rank ceil(p·n/100) in (n_toks, doc_id) order —
    * all integer arithmetic, so both engines select the identical row.
    */
  val lengthPercentiles = Q(
    "q189_length_percentiles",
    """WITH t AS (
      |  SELECT doc_id, source,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
      |  FROM documents),
      |r AS (
      |  SELECT source, n_toks,
      |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_toks, doc_id) AS rnk
      |  FROM t),
      |c AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs FROM t GROUP BY source)
      |SELECT r.source AS source, c.n_docs,
      |  CAST(MAX(CASE WHEN rnk = (50 * n_docs + 99) // 100 THEN n_toks END) AS BIGINT) AS p50,
      |  CAST(MAX(CASE WHEN rnk = (90 * n_docs + 99) // 100 THEN n_toks END) AS BIGINT) AS p90,
      |  CAST(MAX(CASE WHEN rnk = (99 * n_docs + 99) // 100 THEN n_toks END) AS BIGINT) AS p99
      |FROM r JOIN c ON r.source = c.source
      |GROUP BY 1, 2 ORDER BY 1""".stripMargin) { (s, d) =>
    val t = Tables.documents(s, d).select(col("doc_id"), col("source"),
      size(split(col("text"), " ")).cast("long").as("n_toks"))
    val w = Window.partitionBy(col("source")).orderBy(col("n_toks"), col("doc_id"))
    val r = t.withColumn("rnk", row_number().over(w).cast("long"))
    val c = t.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    r.join(broadcast(c), Seq("source"))
      .groupBy(col("source"), col("n_docs"))
      .agg(
        max(when(col("rnk") === expr("(50 * n_docs + 99) div 100"), col("n_toks"))).as("p50"),
        max(when(col("rnk") === expr("(90 * n_docs + 99) div 100"), col("n_toks"))).as("p90"),
        max(when(col("rnk") === expr("(99 * n_docs + 99) div 100"), col("n_toks"))).as("p99"))
      .select(col("source"), col("n_docs"), col("p50"), col("p90"), col("p99"))
      .orderBy(col("source"))
  }

  // ---------------------------------------------------------------- q190

  private val DupThreshold = 0.5

  /** q190: near-dup pair counts per unordered source pair at estimated
    * Jaccard ≥ 0.5, from the shared LSH candidate graph. max_est is a
    * MAX of 6-decimal-rounded estimates — order-independent exact.
    */
  val crossSourceDups = Q(
    "q190_cross_source_dups",
    (TextOps.lshOracleSql() +
      s""",
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
      |  FROM bcap a JOIN bcap b
      |    ON a.b = b.b AND a.s1 = b.s1 AND a.s2 = b.s2 AND a.doc_id < b.doc_id),
      |sim AS (
      |  SELECT da, db,
      |    ROUND(list_sum(list_transform(range(1, 17),
      |      i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END)) / 16.0, 6) AS est
      |  FROM cand
      |  JOIN sigs sa ON sa.doc_id = da
      |  JOIN sigs sb ON sb.doc_id = db),
      |p AS (
      |  SELECT LEAST(x.source, y.source) AS source_a,
      |    GREATEST(x.source, y.source) AS source_b, est
      |  FROM sim
      |  JOIN documents x ON x.doc_id = da
      |  JOIN documents y ON y.doc_id = db
      |  WHERE est >= $DupThreshold)
      |SELECT source_a, source_b,
      |  CAST(COUNT(*) AS BIGINT) AS n_pairs, MAX(est) AS max_est
      |FROM p GROUP BY 1, 2 ORDER BY 1, 2""").stripMargin) { (s, d) =>
    val sigs = TextOps.minhashSigs(s, d)
    val cand = TextOps.minhashCandidates(s, d)
    val src = Tables.documents(s, d).select(col("doc_id"), col("source"))
    cand
      .join(sigs.as("sa"), col("da") === col("sa.doc_id"))
      .join(sigs.as("sb"), col("db") === col("sb.doc_id"))
      .select(col("da"), col("db"), TextOps.estJaccard.as("est"))
      .filter(col("est") >= DupThreshold)
      .join(src.as("x"), col("da") === col("x.doc_id"))
      .join(src.as("y"), col("db") === col("y.doc_id"))
      .select(least(col("x.source"), col("y.source")).as("source_a"),
        greatest(col("x.source"), col("y.source")).as("source_b"), col("est"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"), max(col("est")).as("max_est"))
      .orderBy(col("source_a"), col("source_b"))
  }

  // ---------------------------------------------------------------- q192

  /** q192: VOCABULARY COVERAGE CURVE — cumulative corpus-token coverage
    * by term-frequency rank (what fraction of all tokens the top-k terms
    * cover), the metric a tokenizer/vocab-size decision reads. One
    * explode → vocab-sized tf aggregate, then
    * [[GlobalOrder.rankAndRunningSumT]] gives rank, cumulative count AND
    * the corpus total (a by-product of its partials fold — no separate
    * total pass) in ONE two-phase pass over vocab METADATA (term, cnt). Coverage in half-up ppm ([[graft.Det.halfUpDiv]];
    * numerator 2·cum·10^6 bounds the exact-BIGINT form at ~4.6×10^12
    * corpus tokens — past that, rescale to per-billion or widen to
    * decimal intermediates, same receipt).
    */
  val vocabCoverage = Q(
    "q192_vocab_coverage",
    """WITH tk AS (SELECT unnest(string_split(text, ' ')) AS term FROM documents),
      |c AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt FROM tk GROUP BY term),
      |t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS tot FROM c),
      |r AS (SELECT term, cnt,
      |    CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, term) AS BIGINT) AS rnk,
      |    CAST(SUM(cnt) OVER (ORDER BY cnt DESC, term
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_toks
      |  FROM c)
      |SELECT rnk, term, cnt, cum_toks,
      |  (2 * cum_toks * 1000000 + tot) // (2 * tot) AS coverage_ppm
      |FROM r CROSS JOIN t ORDER BY rnk""".stripMargin) { (s, d) =>
    val tf = Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
    val rt = GlobalOrder.rankAndRunningSumT(tf,
      Seq(col("cnt").desc, col("term")), col("cnt"), "rnk", "cum_toks")
    // The corpus total is the partials fold's by-product — no second pass.
    rt.df
      .select(col("rnk"), col("term"), col("cnt"), col("cum_toks"),
        graft.Det.halfUpDiv(col("cum_toks") * 1000000L, lit(rt.totalSum)).as("coverage_ppm"))
      .orderBy(col("rnk"))
  }

  // ---------------------------------------------------------------- q193

  /** q193: NEAR-DUP DEGREE AUDIT — the distribution of per-document
    * candidate-graph degree at est ≥ 0.5: how many docs have 1 near-dup,
    * how many are N-way "superconnectors" (the blast-radius histogram a
    * dedup rollout is sized by; LshGuard's bucket caps are exactly the
    * guard against the right tail). Degrees come from one union of the
    * thresholded pair list's two sides + two map-side-combinable
    * aggregations — never a pairwise expansion beyond the already-capped
    * candidate graph.
    */
  val dupDegrees = Q(
    "q193_dup_degree_hist",
    (TextOps.lshOracleSql() +
      s""",
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
      |  FROM bcap a JOIN bcap b
      |    ON a.b = b.b AND a.s1 = b.s1 AND a.s2 = b.s2 AND a.doc_id < b.doc_id),
      |sim AS (
      |  SELECT da, db,
      |    ROUND(list_sum(list_transform(range(1, 17),
      |      i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END)) / 16.0, 6) AS est
      |  FROM cand
      |  JOIN sigs sa ON sa.doc_id = da
      |  JOIN sigs sb ON sb.doc_id = db),
      |d0 AS (
      |  SELECT da AS doc_id FROM sim WHERE est >= $DupThreshold
      |  UNION ALL
      |  SELECT db AS doc_id FROM sim WHERE est >= $DupThreshold),
      |deg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS degree FROM d0 GROUP BY doc_id)
      |SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(MIN(doc_id) AS BIGINT) AS min_doc
      |FROM deg GROUP BY degree ORDER BY degree""").stripMargin) { (s, d) =>
    val sigs = TextOps.minhashSigs(s, d)
    val cand = TextOps.minhashCandidates(s, d)
    val pairsRaw = cand
      .join(sigs.as("sa"), col("da") === col("sa.doc_id"))
      .join(sigs.as("sb"), col("db") === col("sb.doc_id"))
      .select(col("da"), col("db"), TextOps.estJaccard.as("est"))
      .filter(col("est") >= DupThreshold)
    val pairs = graft.Reliable.checkpoint(pairsRaw) // pair-sized; feeds both union branches
    pairs.select(col("da").as("doc_id"))
      .unionAll(pairs.select(col("db").as("doc_id")))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("degree"))
      .groupBy(col("degree")).agg(count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("min_doc"))
      .orderBy(col("degree"))
  }

  // ---------------------------------------------------------------- q194

  private val PerSourceBudget = 2000

  /** q194: PER-SOURCE TOKEN-BUDGET FILL — q188's greedy admission run
    * independently inside every source with a 2k-token budget each (the
    * mixture-aware form: a global budget fill lets one high-scoring
    * source crowd out the rest; per-source budgets are how a target
    * mixture is actually enforced). The running sum needs only a window
    * PARTITIONED BY SOURCE — scale is bounded by the largest source, no
    * global order anywhere. Summary receipt per source; a source whose
    * best document alone overflows the budget admits nothing and is
    * absent (identically in both engines).
    */
  val sourceBudgetFill = Q(
    "q194_source_budget",
    s"""WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS tk FROM documents),
       |s AS (
       |  SELECT doc_id, source, CAST(len(tk) AS BIGINT) AS n_toks,
       |    ROUND(len(list_distinct(tk)) * 1.0 / len(tk) * ln(len(tk) + 1), 6) AS score
       |  FROM t),
       |c AS (
       |  SELECT doc_id, source, n_toks, score,
       |    CAST(SUM(n_toks) OVER (PARTITION BY source ORDER BY score DESC, doc_id
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
       |  FROM s)
       |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_admitted,
       |  CAST(SUM(n_toks) AS BIGINT) AS sum_toks, MIN(score) AS min_score
       |FROM c WHERE cum <= $PerSourceBudget
       |GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
    val w = Window.partitionBy(col("source"))
      .orderBy(col("score").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    withQualityScore(Tables.documents(s, d))
      .withColumn("cum", sum(col("n_toks")).over(w))
      .filter(col("cum") <= PerSourceBudget)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_admitted"),
        sum(col("n_toks")).as("sum_toks"),
        min(col("score")).as("min_score"))
      .orderBy(col("source"))
  }

  // ---------------------------------------------------------------- q195

  private val SweepLens = Seq(64, 128, 256)

  /** q195: SEQUENCE-LENGTH PACKING SWEEP — the "choose seqLen" planner:
    * for L ∈ {64, 128, 256}, how many sequences the corpus packs into,
    * how many documents a boundary splits, and the tail fill — WITHOUT
    * materializing any packing. Everything is a closed form of the ONE
    * global prefix sum q180 uses ([[GlobalOrder.runningSum]], two-phase):
    * a doc spanning [cum, cum_end) crosses `(cum_end−1) div L − cum div L`
    * boundaries, the corpus needs `ceil(total/L)` sequences, and the tail
    * holds `total − (n_seqs−1)·L` tokens. One metadata pass, a 3-way
    * explode on L, one aggregation.
    */
  val packingSweep = Q(
    "q195_packing_sweep",
    s"""WITH t AS (
       |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, n_toks,
       |    CAST(SUM(n_toks) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_end,
       |    CAST(SUM(n_toks) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_toks AS BIGINT) AS cum
       |  FROM t),
       |f AS (
       |  SELECT v.seq_len, doc_id, cum_end,
       |    (cum_end - 1) // v.seq_len - cum // v.seq_len AS extra
       |  FROM c CROSS JOIN (VALUES ${SweepLens.map(l => s"($l)").mkString(", ")}) v(seq_len)
       |  WHERE n_toks > 0),
       |g AS (
       |  SELECT seq_len, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(MAX(cum_end) AS BIGINT) AS tot,
       |    CAST(SUM(extra) AS BIGINT) AS n_crossings,
       |    CAST(SUM(CASE WHEN extra > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_crossing_docs
       |  FROM f GROUP BY seq_len)
       |SELECT CAST(seq_len AS INTEGER) AS seq_len, n_docs,
       |  CAST((tot + seq_len - 1) // seq_len AS BIGINT) AS n_seqs,
       |  CAST(n_docs + n_crossings AS BIGINT) AS n_frags,
       |  n_crossings, n_crossing_docs,
       |  CAST(tot - ((tot + seq_len - 1) // seq_len - 1) * seq_len AS BIGINT) AS tail_fill
       |FROM g ORDER BY seq_len""".stripMargin) { (s, d) =>
    val toks = Tables.documents(s, d)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_toks"))
    val base = GlobalOrder.runningSum(toks, Seq(col("doc_id")), col("n_toks"), "cum_end")
      .withColumn("cum", col("cum_end") - col("n_toks"))
      .filter(col("n_toks") > 0)
      .withColumn("seq_len", explode(array(SweepLens.map(l => lit(l)): _*)))
      .withColumn("extra", expr("(cum_end - 1) div seq_len - cum div seq_len"))
    base.groupBy(col("seq_len"))
      .agg(count(lit(1)).as("n_docs"),
        max(col("cum_end")).as("tot"),
        sum(col("extra")).as("n_crossings"),
        sum(when(col("extra") > 0, 1L).otherwise(0L)).as("n_crossing_docs"))
      .select(col("seq_len"), col("n_docs"),
        expr("(tot + seq_len - 1) div seq_len").as("n_seqs"),
        (col("n_docs") + col("n_crossings")).as("n_frags"),
        col("n_crossings"), col("n_crossing_docs"),
        expr("tot - ((tot + seq_len - 1) div seq_len - 1) * seq_len").as("tail_fill"))
      .orderBy(col("seq_len"))
  }

  // ---------------------------------------------------------------- q197

  private val ZBits = 8

  /** q197: Z-ORDER CLUSTERING KEY — the Morton interleave
    * ([[graft.sources.ZOrder.zkey]]) that [[graft.sources.ZOrder.writeZOrdered]]
    * lays files out by, verified per z-quadrant: bucketing the curve
    * into 16 blocks of 4096 keys must confine BOTH bucketed dimensions
    * of every block to one 64-wide quadrant (the property that makes
    * parquet min/max stats prune 2-D box predicates — the output's
    * min/max columns exhibit it directly). Pure shifts/masks, fully
    * codegen'd; LayoutSpec measures the actual file-skipping win.
    */
  val zorderKey = Q(
    "q197_zorder_key",
    s"""WITH z AS (
       |  SELECT ${ZOrder.zkeySql("l_orderkey % 256", "l_partkey % 256", ZBits)} AS zkey,
       |    l_orderkey % 256 AS x, l_partkey % 256 AS y
       |  FROM lineitem)
       |SELECT CAST(zkey // 4096 AS BIGINT) AS zbucket,
       |  CAST(COUNT(*) AS BIGINT) AS n_rows,
       |  CAST(MIN(x) AS BIGINT) AS min_x, CAST(MAX(x) AS BIGINT) AS max_x,
       |  CAST(MIN(y) AS BIGINT) AS min_y, CAST(MAX(y) AS BIGINT) AS max_y
       |FROM z GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d)
      .select(ZOrder.zkey(col("l_orderkey") % 256, col("l_partkey") % 256, ZBits)
          .as("zkey"),
        (col("l_orderkey") % 256).as("x"), (col("l_partkey") % 256).as("y"))
      .groupBy(expr("zkey div 4096").as("zbucket"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("x")).as("min_x"), max(col("x")).as("max_x"),
        min(col("y")).as("min_y"), max(col("y")).as("max_y"))
      .orderBy(col("zbucket"))
  }

  // ---------------------------------------------------------------- q198

  /** q198: EXACT GLOBAL PERCENTILES by distributed rank selection —
    * q189's integer rank arithmetic over the WHOLE corpus, where a
    * partitioned window can't help: [[GlobalOrder.rankT]]'s two-phase
    * form supplies the global rank (PlanSpec's no-single-partition-
    * window pin applies) AND the exact row count (its partials
    * by-product — no count pass), and the three percentile rows project
    * out of one aggregation. This is the exact
    * distributed-selection primitive `approx_percentile` trades away;
    * both engines select the identical row because ceil(p·n/100) is
    * integer-exact.
    */
  val globalPercentiles = Q(
    "q198_global_percentiles",
    """WITH t AS (
      |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
      |  FROM documents),
      |r AS (
      |  SELECT n_toks,
      |    ROW_NUMBER() OVER (ORDER BY n_toks, doc_id) AS rnk
      |  FROM t),
      |c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM t)
      |SELECT n_docs,
      |  CAST(MAX(CASE WHEN rnk = (50 * n_docs + 99) // 100 THEN n_toks END) AS BIGINT) AS p50,
      |  CAST(MAX(CASE WHEN rnk = (90 * n_docs + 99) // 100 THEN n_toks END) AS BIGINT) AS p90,
      |  CAST(MAX(CASE WHEN rnk = (99 * n_docs + 99) // 100 THEN n_toks END) AS BIGINT) AS p99
      |FROM r CROSS JOIN c GROUP BY n_docs ORDER BY n_docs""".stripMargin) { (s, d) =>
    val toks = Tables.documents(s, d)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_toks"))
    val rt = GlobalOrder.rankT(toks, Seq(col("n_toks"), col("doc_id")), "rnk")
    // n_docs is the partials fold's by-product — no count pass.
    rt.df.withColumn("n_docs", lit(rt.totalCount))
      .groupBy(col("n_docs"))
      .agg(
        max(when(col("rnk") === expr("(50 * n_docs + 99) div 100"), col("n_toks"))).as("p50"),
        max(when(col("rnk") === expr("(90 * n_docs + 99) div 100"), col("n_toks"))).as("p90"),
        max(when(col("rnk") === expr("(99 * n_docs + 99) div 100"), col("n_toks"))).as("p99"))
      .orderBy(col("n_docs"))
  }

  // ---------------------------------------------------------------- q199

  private val SemTau = 0.4

  /** The capped cluster-confined sweep's oracle tail over an
    * `ev(vec_id, c_id, v)` CTE — ONE definition consumed by q199, q200
    * and q202 (their sweeps differ only in how `ev` is assigned), so
    * the three gates cannot drift from each other, and the membership
    * cap is the IDENTICAL [[LshGuard.capCteSql]] recipe [[dominatedBy]]
    * applies on the Spark side (same key, same vec_id rank order).
    */
  private def sweepOracleTailSql: String =
    s""",
       |${LshGuard.capCteSql("evc", "ev", Seq("vec_id", "c_id", "v"), Seq("c_id"), "vec_id")},
       |p AS (
       |  SELECT x.c_id, x.vec_id AS da, y.vec_id AS db,
       |    ROUND(list_dot_product(x.v, y.v)
       |      / (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))), 6) AS sim
       |  FROM evc x JOIN evc y ON x.c_id = y.c_id AND x.vec_id < y.vec_id
       |  WHERE list_dot_product(x.v, y.v)
       |      / (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))) >= $SemTau)
       |SELECT db AS vec_id, CAST(c_id AS INTEGER) AS c_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_dominating,
       |  MAX(sim) AS max_sim, CAST(MIN(da) AS BIGINT) AS dominator
       |FROM p GROUP BY db, c_id ORDER BY vec_id""".stripMargin

  /** q199: SEMANTIC DEDUP (SemDeDup, Abbas et al. 2023, re-expressed) —
    * cluster the embedding space with the session-shared Lloyd centroids
    * ([[Quantizer.ivfCentroids]], the SAME trained table the IVF serving
    * family uses), then mark every vector whose cosine to a LOWER-id
    * vector in the SAME cluster reaches τ = 0.4. Deterministic variant
    * of the paper's greedy sweep: "dominated by an earlier same-cluster
    * member" (the paper processes in arbitrary order; id order makes the
    * removal set a pure function of the data). Pairing is CLUSTER-
    * CONFINED — the equi-join on the cluster id is the SemDeDup scaling
    * trick itself: k grows with the corpus so per-cluster membership
    * (and the per-cluster quadratic) stays constant; never an all-pairs
    * join. The oracle replays Lloyd + cosine assignment + the confined
    * pair sweep from the raw embeddings. NOTE this registered form
    * reuses the session-shared FIXED k=16 centroids — the PRODUCTION
    * form is the corpus-sized [[semanticDedupScaled]], hash-gated at
    * explicit sizing by q200 ([[semanticDedupScaledGate]]).
    */
  /** Nearest-centroid cosine assignment (6-decimal affinity, cid
    * tie-break — the same rank the ANN family's ROW_NUMBER recipe
    * picks), keeping the vector for the downstream sweep. Computed as a
    * min-over-struct aggregate ([[Quantizer.assignFull]]'s trick), NOT a
    * per-vec_id window: the n·k affinity rows partial-aggregate map-side
    * down to one row per vector BEFORE any exchange — at scaled k the
    * window form shuffled all n·k rows (measured 1.6× slower end-to-end
    * at 200k×448, BENCH.md round 12).
    */
  private[graft] def assignCosine(e: DataFrame, cents: DataFrame): DataFrame =
    e.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("v"),
        struct((round(CosineSim.cosine(col("v"), col("cv")), 6) * -1).as("nca"),
          col("cid")).as("dc"))
      .groupBy(col("vec_id"))
      .agg(min(col("dc")).as("m"), first(col("v")).as("v")) // v constant per vec_id
      .select(col("vec_id"), col("m.cid").cast("int").as("c_id"), col("v"),
        // negation of the struct-min's negated 6-decimal cosine is exact
        (col("m.nca") * -1).as("aff"))

  /** The cluster-confined dominance sweep over `assigned(vec_id, c_id,
    * v)`: one row per vector whose cosine to a LOWER-id same-cluster
    * member reaches `tau`.
    *
    * HOT-CLUSTER GUARD (round 14): cluster membership is rank-capped at
    * `cap` (vec_id order, [[LshGuard.capBuckets]]) BEFORE the pair
    * join. The scaled-k sizing bounds EXPECTED occupancy only — on the
    * corpora semantic dedup exists for (duplicate-heavy, mode-collapsed
    * embeddings) Lloyd concentrates mass in few clusters and the
    * confined join goes quadratic on the hot cluster regardless of k
    * (all-identical vectors ⇒ n²/2 pairs at ANY cluster count) — the
    * exact failure mode the LSH band joins cap (round-8 rehearsal:
    * 0.79 → 58 s uncapped). Under the cap a hot cluster contributes at
    * most cap·(cap−1)/2 pairs; members past the cap neither dominate
    * nor are swept, and the dropped-membership count is observed and
    * logged per query (a binding cap always leaves a log line — never
    * silent truncation). Exact-duplicate detection INSIDE the cap is
    * intact: identical vectors share a cluster and the lowest-id member
    * (rank 1, always retained) dominates every other retained copy.
    * Every registered oracle (q199/q200/q202) applies the IDENTICAL cap
    * via [[LshGuard.capCteSql]]; at the test SFs no cluster approaches
    * it, so capped ≡ uncapped there (SemanticGuardSpec pins that
    * equality AND the degenerate-corpus bound).
    */
  private[graft] def dominatedBy(assigned: DataFrame, tau: Double,
      cap: Int = LshGuard.BucketCap, tag: String = "semsweep"): DataFrame = {
    val capped = LshGuard.capBuckets(assigned.sparkSession, assigned,
      Seq("c_id"), "vec_id", cap, tag)
    val a = capped.select(col("vec_id").as("da"), col("c_id"), col("v").as("va"))
    val b = capped.select(col("vec_id").as("db"), col("c_id").as("c2"), col("v").as("vb"))
    a.join(b, col("c_id") === col("c2") && col("da") < col("db"))
      .withColumn("sim_raw", CosineSim.cosine(col("va"), col("vb")))
      .filter(col("sim_raw") >= tau)
      .groupBy(col("db").as("vec_id"), col("c_id"))
      .agg(count(lit(1)).as("n_dominating"),
        max(round(col("sim_raw"), 6)).as("max_sim"),
        min(col("da")).as("dominator"))
  }

  /** The scaled-semdedup chain at EXPLICIT sizing — the one code path
    * behind both [[semanticDedupScaled]] (production √n sizing) and the
    * q200 gate (explicit non-degenerate test sizing), so the gated
    * artifact and the production call are the same functions end to
    * end: md5-prefix hash sample → seeded Lloyd
    * ([[AnnIndex.scaledSampleCentroids]], q160's oracle-gated trainer)
    * → min-over-struct cosine assignment ([[assignCosine]]) → cluster-
    * confined dominance sweep ([[dominatedBy]]).
    */
  private[graft] def semanticDedupScaledAt(s: org.apache.spark.sql.SparkSession,
      d: String, k: Int, perList: Long, tau: Double): DataFrame = {
    // corpus-sized materializations ride graft.Reliable: executor-local
    // by default, reliable under spark.graft.checkpointDir (a lost
    // executor otherwise kills the job at exactly the corpus sizes this
    // scaled path exists for)
    val e = graft.Reliable.checkpoint(Tables.vectors(s, d))
    val cents = AnnIndex.scaledSampleCentroids(e, e.count(), k, perList)
    dominatedBy(graft.Reliable.checkpoint(assignCosine(e, cents)), tau)
      .orderBy(col("vec_id"))
  }

  /** The q199 sweep at PRODUCTION sizing — the scale path the q199
    * Scaladoc/BENCH.md caveat names: k = clamp(16..65536, ceil(√n))
    * clusters trained on [[AnnIndex.scaledSampleCentroids]]'s
    * deterministic md5 hash sample (q160's oracle-gated recipe), so
    * per-cluster membership — and the confined quadratic — stays
    * CONSTANT as the corpus grows. The SAME chain is hash-gated by
    * [[semanticDedupScaledGate]] (q200) at explicit sizing;
    * `IndexBench` section `semdedup` measures fixed-16 vs this at
    * 1× and 10×.
    */
  def semanticDedupScaled(s: org.apache.spark.sql.SparkSession, d: String,
      tau: Double = SemTau): DataFrame = {
    val e = Tables.vectors(s, d)
    val n = e.count()
    val k = math.max(16L, math.min(65536L,
      math.ceil(math.sqrt(n.toDouble)).toLong)).toInt
    semanticDedupScaledAt(s, d, k, perList = 50L, tau)
  }

  /** Semantic dedup bucketed by a PERSISTED IVF index's lists — the
    * production recommendation BENCH.md's round-12 semdedup table
    * closes on: at real corpus scale the serving index
    * ([[AnnIndex.writeScaled]]'s √n-list layout) has ALREADY paid the
    * Lloyd training and the n·k nearest-list assignment, so the
    * marginal cost of semantic dedup is ONLY the cluster-confined
    * sweep — occupancy-constant (n/√n per list), the same shape q141
    * proved for near-dup banding. Reads the index's `assigned` table
    * through [[AnnIndex.load]] (tombstone-filtered, so deleted vectors
    * never dominate anyone) and joins the corpus vectors back by id;
    * list confinement is an equi-join, never all-pairs. IndexBench's
    * `semdedup` section measures this against the self-contained
    * fixed-16 (q199) and scaled-√n (q200-gated) forms.
    */
  def semanticDedupFromIndex(s: org.apache.spark.sql.SparkSession, d: String,
      indexDir: String, tau: Double = SemTau): DataFrame = {
    val e = Tables.vectors(s, d)
    val asg = AnnIndex.load(s, indexDir).assigned.select(col("vec_id"), col("c_id"))
    dominatedBy(e.join(asg, Seq("vec_id")).select(col("vec_id"), col("c_id"), col("v")),
      tau).orderBy(col("vec_id"))
  }

  // ---------------------------------------------------------------- q200

  /** q200: the SCALE-SAFE semantic dedup under the hard gate — the r12
    * verdict's top item. q199 gates the fixed-k=16 SemDeDup form whose
    * per-cluster quadratic grows with the corpus; THIS query runs
    * [[semanticDedupScaledAt]] — the exact production chain behind
    * [[semanticDedupScaled]] — at explicit non-degenerate sizing
    * (k=32 ≠ the static 16; perList=2 so the md5 sample filter rejects
    * vectors at every SF instead of sampling everyone, q160's gated
    * regime). The oracle replays the whole chain from the raw
    * embeddings: the shared md5-prefix sample rule + dense renumber,
    * the seeded 2-pass Lloyd over the SAMPLE, the full-corpus cosine
    * assignment, and the cluster-confined dominance sweep — so
    * sampling, training, assignment AND the sweep are all value-gated
    * on the scaled path, not just its toy-k twin.
    */
  val semanticDedupScaledGate = Q(
    "q200_semantic_dedup_scaled",
    (s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |prm AS (SELECT GREATEST(1, COUNT(*) // 64) AS m FROM e),
       |samp AS (
       |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS vec_id, v
       |  FROM e, prm
       |  WHERE ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 7))::BIGINT % m = 0),
       |${Quantizer.centroidTrainCtes(32, "samp")},
       |${Quantizer.ivfProbeCtes(1, 1)},
       |ev AS (SELECT a.vec_id, a.c_id, e.v FROM assigned a JOIN e USING (vec_id))""" +
      sweepOracleTailSql).stripMargin) { (s, d) =>
    semanticDedupScaledAt(s, d, k = 32, perList = 2L, tau = SemTau)
  }

  val semanticDedup = Q(
    "q199_semantic_dedup",
    (s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |${Quantizer.centroidTrainCtes(16, "e")},
       |${Quantizer.ivfProbeCtes(1, 1)},
       |ev AS (SELECT a.vec_id, a.c_id, e.v FROM assigned a JOIN e USING (vec_id))""" +
      sweepOracleTailSql).stripMargin) { (s, d) =>
    val e = Tables.vectors(s, d)
    // reduced (id, cluster, vec); feeds both pair sides — Reliable so a
    // conf-bearing cluster survives executor loss (default unchanged)
    val assigned = graft.Reliable.checkpoint(
      assignCosine(e, Quantizer.ivfCentroids(s, d)))
    dominatedBy(assigned, SemTau).orderBy(col("vec_id"))
  }

  // ---------------------------------------------------------------- q202

  /** One persisted fixed-16 AnnIndex per (session, corpus), built by the
    * production [[AnnIndex.write]] on a [[graft.TempDirs]] dir — shared
    * so q202's steady reps measure the SERVE path, not eight rebuilds.
    */
  private[ops] def sharedFixedIndexDir(s: org.apache.spark.sql.SparkSession,
      d: String): String = {
    import s.implicits._
    graft.Shared.materialized(s, s"annix-fixed16-$d") {
      val tmp = graft.TempDirs.create("graft-fixedix")
      AnnIndex.write(s, d, tmp)
      Seq(tmp).toDF("dir")
    }.collect()(0).getString(0)
  }

  /** q202: [[semanticDedupFromIndex]] — the MEASURED production path
    * (BENCH.md round 13: 5/10.7/25.4 s marginal at 200k/500k/1M, 25-55×
    * under the self-contained forms) — under the hard gate, through the
    * REAL persisted lifecycle: [[AnnIndex.write]] lays the index out on
    * a temp dir (centroids = the session-shared Lloyd table, assignment
    * = the one 6-decimal-cosine rank recipe), then the sweep reads the
    * index's tombstone-filtered `assigned` table back and joins corpus
    * vectors by id. The ORACLE is q199's chain verbatim — it replays
    * training + assignment + sweep from raw embeddings and never sees
    * the index — so hash equality proves persisted-serve ≡ from-scratch
    * for the whole dedup surface (a wrong tombstone filter, a drifted
    * persisted assignment, or a stale centroid table all surface as a
    * row/hash mismatch).
    */
  val semanticDedupServe = Q(
    "q202_semantic_dedup_serve",
    (s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |${Quantizer.centroidTrainCtes(16, "e")},
       |${Quantizer.ivfProbeCtes(1, 1)},
       |ev AS (SELECT a.vec_id, a.c_id, e.v FROM assigned a JOIN e USING (vec_id))""" +
      sweepOracleTailSql).stripMargin) { (s, d) =>
    semanticDedupFromIndex(s, d, sharedFixedIndexDir(s, d), SemTau)
  }

  // ---------------------------------------------------------------- q203

  /** Which vectors of `batch(vec_id, v)` are semantically dominated by
    * the EXISTING corpus behind a persisted index — the INTAKE form of
    * semantic dedup (the embedding-space analog of
    * [[DedupIndex.queryBatch]], and the third stage a semantic-aware
    * [[IngestionGate]] would add): assign each batch vector to its
    * nearest persisted centroid (the index's FROZEN quantizer — the
    * same append-time contract [[AnnIndex.append]] keeps), then ONE
    * batch×members cluster-confined join against the index's
    * tombstone-filtered membership. Cost: |batch|·k assignment + the
    * batch's cluster slices — never a corpus rescan, never batch×corpus.
    * `corpusVecs` supplies the members' raw vectors by id (the index
    * stores ids + codes; exact cosines need the vector store, read
    * shortlist-style by id).
    *
    * HOT-CLUSTER GUARD: corpus membership is rank-capped at `cap` per
    * cluster (mv order, [[LshGuard.capBuckets]] — see [[dominatedBy]]'s
    * guard note) before the batch×members join, so a mode-collapsed
    * corpus cluster bounds the join at |batch slice|·cap instead of
    * |batch slice|·|hot cluster|; drops are observed + logged, and the
    * q203 oracle applies the identical cap. The cap window runs over
    * the index's SKINNY `assigned` table (two longs per member) BEFORE
    * the vector store joins in, so the only corpus-sized exchange this
    * guard adds moves id pairs, never vectors — and it mirrors the
    * oracle's `mcap` (a rank over the assignment CTE) exactly. The
    * batch side is the caller-bounded intake micro-batch, not capped.
    */
  def semanticDedupBatch(s: org.apache.spark.sql.SparkSession,
      indexDir: String, batch: DataFrame, corpusVecs: DataFrame,
      tau: Double = SemTau, cap: Int = LshGuard.BucketCap): DataFrame = {
    val ix = AnnIndex.load(s, indexDir)
    val basg = assignCosine(batch, ix.centroids.select(col("cid"), col("cv")))
      .select(col("vec_id").as("bv"), col("c_id"), col("v").as("vb"))
    val cappedAsg = LshGuard.capBuckets(s,
      ix.assigned.select(col("vec_id").as("mv"), col("c_id").as("mc")),
      Seq("mc"), "mv", cap, tag = "semintake")
    val members = corpusVecs.select(col("vec_id").as("mv"), col("v").as("vm"))
      .join(cappedAsg, Seq("mv"))
    basg.join(members, col("c_id") === col("mc"))
      .withColumn("sim_raw", CosineSim.cosine(col("vb"), col("vm")))
      .filter(col("sim_raw") >= tau)
      .groupBy(col("bv").as("vec_id"), col("c_id"))
      .agg(count(lit(1)).as("n_dominating"),
        max(round(col("sim_raw"), 6)).as("max_sim"),
        min(col("mv")).as("dominator"))
  }

  /** Cosine-affinity assignment CTE pair for a source CTE `src` against
    * `cent(c_id, centv)` — the q203 oracle assigns corpus AND batch with
    * the same rank recipe [[Quantizer.ivfProbeCtes]] uses; generated
    * here (not copied) so the two sides can't drift.
    */
  private[ops] def assignCteSql(name: String, src: String): String =
    s"""${name}_aff AS (
       |  SELECT $src.vec_id, c_id,
       |    ROW_NUMBER() OVER (PARTITION BY $src.vec_id
       |      ORDER BY ROUND(list_dot_product(v, centv)
       |        / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(centv, centv))), 6)
       |        DESC, c_id) AS crank
       |  FROM $src, cent),
       |$name AS (SELECT vec_id, c_id FROM ${name}_aff WHERE crank = 1)""".stripMargin

  /** q203: [[semanticDedupBatch]] under the hard gate, through the REAL
    * persisted lifecycle. Deterministic fixture: the corpus is
    * vec_id % 10 ≠ 7 (the index is built over it by the production
    * [[AnnIndex.writeVectors]] — frozen quantizers trained on the
    * corpus alone), the intake batch is vec_id % 10 = 7. The oracle
    * replays corpus-only training, assigns BOTH sides with the shared
    * affinity rank, and sweeps batch×corpus within clusters — it never
    * sees the index, so a drifted persisted assignment, a leaked batch
    * vector in training, or a wrong membership filter all surface as a
    * hash mismatch. A batch vector with no cluster-mate at τ is absent
    * identically in both engines (it would be ADMITTED by the gate).
    */
  val semanticDedupIntake = Q(
    "q203_semantic_dedup_intake",
    (s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |c AS (SELECT vec_id, v FROM e WHERE vec_id % 10 != 7),
       |bt AS (SELECT vec_id, v FROM e WHERE vec_id % 10 = 7),
       |${Quantizer.centroidTrainCtes(16, "c")},
       |cent AS (SELECT cid AS c_id, cv AS centv FROM ${Quantizer.centFinal}),
       |${assignCteSql("casg", "c")},
       |${LshGuard.capCteSql("mcap", "casg", Seq("vec_id", "c_id"), Seq("c_id"), "vec_id")},
       |${assignCteSql("basg", "bt")},
       |p AS (
       |  SELECT b.vec_id AS bv, b.c_id, m.vec_id AS mv,
       |    ROUND(list_dot_product(x.v, y.v)
       |      / (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))), 6) AS sim
       |  FROM basg b
       |  JOIN mcap m ON b.c_id = m.c_id
       |  JOIN bt x ON x.vec_id = b.vec_id
       |  JOIN c y ON y.vec_id = m.vec_id
       |  WHERE list_dot_product(x.v, y.v)
       |      / (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))) >= $SemTau)
       |SELECT bv AS vec_id, CAST(c_id AS INTEGER) AS c_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_dominating,
       |  MAX(sim) AS max_sim, CAST(MIN(mv) AS BIGINT) AS dominator
       |FROM p GROUP BY bv, c_id ORDER BY vec_id""").stripMargin) { (s, d) =>
    import s.implicits._
    val e = Tables.vectors(s, d)
    val corpus = e.filter(col("vec_id") % 10 =!= 7)
    val batch = e.filter(col("vec_id") % 10 === 7)
    val dir = graft.Shared.materialized(s, s"annix-corpus-v-$d") {
      val tmp = graft.TempDirs.create("graft-corpusix")
      AnnIndex.writeVectors(s, corpus, tmp)
      Seq(tmp).toDF("dir")
    }.collect()(0).getString(0)
    semanticDedupBatch(s, dir, batch, corpus, SemTau).orderBy(col("vec_id"))
  }

  // ---------------------------------------------------------------- q201

  /** q201: ANTI-PROTOTYPE AUDIT (SSL-prototypes curation, the SemDeDup
    * sibling from the same self-supervised-curation family): the 3
    * LEAST prototypical vectors of every cluster — lowest 6-decimal
    * cosine affinity to their own assigned centroid, vec_id tie-break —
    * the members an embedding-space quality pass reviews or drops
    * first (far-from-centroid ≈ off-distribution or mis-embedded).
    * Rides the SAME session-shared Lloyd centroids and min-over-struct
    * assignment as q199 ([[assignCosine]], which carries the affinity
    * out of the argmin for free); the bottom-3 is a rank-filter window
    * PARTITIONED BY CLUSTER — bounded by cluster occupancy (constant
    * under the scaled-k sizing q200 gates) and rewritten to a bounded
    * heap by the TopK rule, which since round 14 EMITS the selected
    * rank itself (the heap drains in rank order), so keeping `rnk` in
    * the output no longer forces the full per-cluster sort — the
    * int-rank filter runs below, the BIGINT cast above (TopKSpec pins
    * this exact idiom's plan). Rank selection is integer-exact; the
    * affinity is the shared 6-decimal rounding — both engines pick
    * identical rows.
    */
  val antiPrototypes = Q(
    "q201_anti_prototypes",
    (s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |${Quantizer.centroidTrainCtes(16, "e")},
       |cent AS (SELECT cid AS c_id, cv AS centv FROM ${Quantizer.centFinal}),
       |aff AS (
       |  SELECT e.vec_id, c_id,
       |    ROUND(list_dot_product(v, centv)
       |      / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(centv, centv))), 6) AS ca,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |      ORDER BY ROUND(list_dot_product(v, centv)
       |        / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(centv, centv))), 6)
       |        DESC, c_id) AS crank
       |  FROM e, cent),
       |asg AS (SELECT vec_id, c_id, ca FROM aff WHERE crank = 1),
       |r AS (
       |  SELECT c_id, vec_id, ca,
       |    ROW_NUMBER() OVER (PARTITION BY c_id ORDER BY ca, vec_id) AS rnk
       |  FROM asg)
       |SELECT CAST(c_id AS INTEGER) AS c_id, CAST(rnk AS BIGINT) AS rnk,
       |  vec_id, ca AS aff
       |FROM r WHERE rnk <= 3 ORDER BY c_id, rnk""").stripMargin) { (s, d) =>
    val a = assignCosine(Tables.vectors(s, d), Quantizer.ivfCentroids(s, d))
    val w = Window.partitionBy(col("c_id")).orderBy(col("aff"), col("vec_id"))
    // int rank below the filter, BIGINT cast above: the TopK rewrite's
    // Project(Filter(Window)) pattern with the rank kept — heap-emitted
    a.withColumn("rnk0", row_number().over(w))
      .filter(col("rnk0") <= 3)
      .select(col("c_id"), col("rnk0").cast("long").as("rnk"), col("vec_id"), col("aff"))
      .orderBy(col("c_id"), col("rnk"))
  }

  val specs: Seq[Q] = Seq(budgetSelection, lengthPercentiles, crossSourceDups,
    vocabCoverage, dupDegrees, sourceBudgetFill, packingSweep, zorderKey,
    globalPercentiles, semanticDedup, semanticDedupScaledGate, antiPrototypes,
    semanticDedupServe, semanticDedupIntake)
}
