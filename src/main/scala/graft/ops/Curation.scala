package graft.ops

import graft.{Det, Q, Tables}
import graft.functions.NGrams
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Quality, mixture and selection: repetition and lexical quality
  * signals, the distilled linear quality classifier (whose raw features,
  * training and oracle text [[QualityModel]] and [[IngestionGate]] reuse),
  * source mixtures and temperature sampling, overlap sketches, drift,
  * dataset cards, contamination-safe splits, budgets, caps and epochs.
  * Sequence packing, chunking and sharding live in [[Packing]].
  */
object Curation {

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

  /** Deterministic train/val/test split (90/5/5) by content-independent
    * doc-id hash — the assignment every training pipeline needs to be
    * reproducible across reruns, engines, and partitionings. Same
    * md5-prefix trick as q60: both engines compute an identical bucket in
    * [0,100), so the split is portable, and re-ingesting a doc lands it
    * in the same split forever. Narrow projection + partial-agg'd
    * groupBy; one scan at any scale.
    */
  /** The canonical train/val/test assignment (90/5/5 by md5(doc_id)
    * chars 1-7) — ONE definition shared by q87, q134's contamination
    * audit, and CorpusPipeline, so the split a doc lands in can never
    * drift between the query that reports it and the pipeline that
    * materializes it. DuckDB twin:
    * `('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,7))::BIGINT % 100`.
    */
  private[graft] def splitLabel: org.apache.spark.sql.Column = {
    val bucket =
      expr("CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 7), 16, 10) AS BIGINT) % 100")
    when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test")
  }

  val datasetSplit = Q(
    "q87_dataset_split",
    """WITH h AS (
      |  SELECT source, n_chars,
      |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT % 100 AS bucket
      |  FROM documents),
      |s AS (
      |  SELECT source, n_chars,
      |    CASE WHEN bucket < 90 THEN 'train'
      |         WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split
      |  FROM h)
      |SELECT source, split, COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
      |FROM s GROUP BY source, split
      |ORDER BY source, split""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(col("source"), col("n_chars"), splitLabel.as("split"))
      .groupBy(col("source"), col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
      .orderBy(col("source"), col("split"))
  }

  /** Weighted source mixing — the data-mixture step of training-corpus
    * assembly: each source keeps a configured fraction, selected by a
    * content-independent per-doc hash so the mixture is reproducible
    * under any partitioning. Uses md5 chars 9-15 while q87's split uses
    * chars 1-7: mixture and split decisions stay independent (a doc's
    * survival says nothing about its split).
    */
  val sourceMixture = Q(
    "q91_source_mixture",
    """WITH r AS (
      |  SELECT source, n_chars,
      |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 9, 7))::BIGINT % 1000 AS b,
      |    CASE WHEN source IN ('src0','src1','src2','src3','src4') THEN 1.0
      |         WHEN source IN ('src5','src6','src7','src8','src9') THEN 0.5
      |         ELSE 0.25 END AS rate
      |  FROM documents)
      |SELECT source, CAST(rate AS DOUBLE) AS rate,
      |  COUNT(*) AS n_before,
      |  COUNT(*) FILTER (WHERE b < rate * 1000) AS n_after
      |FROM r GROUP BY source, rate
      |ORDER BY source""".stripMargin) { (s, d) =>
    val rate = when(col("source").isin("src0", "src1", "src2", "src3", "src4"), 1.0)
      .when(col("source").isin("src5", "src6", "src7", "src8", "src9"), 0.5)
      .otherwise(0.25)
    val bucket =
      expr("CAST(conv(substr(md5(CAST(doc_id AS STRING)), 9, 7), 16, 10) AS BIGINT) % 1000")
    Tables.documents(s, d)
      .select(col("source"), rate.as("rate"), bucket.as("b"))
      .groupBy(col("source"), col("rate"))
      .agg(count(lit(1)).as("n_before"),
        count(when(col("b") < col("rate") * 1000, 1)).as("n_after"))
      .orderBy(col("source"))
  }

  /** Epoch reweighting toward a target mixture — the complement of q91's
    * downsampling: given a uniform token-share target (1/20 per source),
    * the factor each source must be repeated by. Integer micro-unit
    * division ([[Det.halfUpDiv]]) keeps the factor bit-identical across
    * engines. One partial-agg'd groupBy + a broadcast 1-row total.
    */
  val mixtureReweight = Q(
    "q101_mixture_reweight",
    """WITH s AS (
      |  SELECT source, CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS toks
      |  FROM documents GROUP BY source),
      |t AS (SELECT CAST(SUM(toks) AS BIGINT) AS total FROM s)
      |SELECT source, toks,
      |  (2 * (total * 50000) + toks) // (2 * toks) / 1000000.0 AS repeat_factor
      |FROM s, t
      |ORDER BY source""".stripMargin) { (s, d) =>
    val perSrc = Tables.documents(s, d)
      .groupBy(col("source"))
      .agg(sum(size(split(col("text"), " ")).cast("long")).as("toks"))
    val total = perSrc.agg(sum(col("toks")).as("total"))
    perSrc.crossJoin(broadcast(total))
      .select(col("source"), col("toks"),
        (Det.halfUpDiv(col("total") * 50000, col("toks")) / 1000000.0).as("repeat_factor"))
      .orderBy(col("source"))
  }

  /** Cross-source contamination matrix — which sources share content:
    * distinct 3-gram hashes per SOURCE, pairwise overlap + Jaccard for
    * every overlapping pair. The join operates on each source's distinct
    * vocabulary (never raw gram instances) and the hash is the md5-prefix
    * int64 (oracle-computable; xxhash64 at production scale). Pair
    * fan-out per gram is bounded by the source count squared — sources
    * are a config-sized set, so the output is a small matrix at any
    * corpus size.
    */
  val sourceOverlap = Q(
    "q103_source_overlap",
    """WITH t AS (
      |  SELECT source, string_split(text, ' ') AS toks FROM documents
      |  WHERE len(string_split(text, ' ')) >= 3),
      |r AS (
      |  SELECT source, unnest(list_transform(range(1, len(toks) - 1),
      |    i -> array_to_string(toks[i:i+2], ' '))) AS gr
      |  FROM t),
      |g AS (SELECT DISTINCT source, ('0x' || substr(md5(gr), 1, 15))::BIGINT AS gh FROM r),
      |sz AS (SELECT source, COUNT(*) AS n FROM g GROUP BY source),
      |ov AS (
      |  SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_shared
      |  FROM g a JOIN g b ON a.gh = b.gh AND a.source < b.source
      |  GROUP BY 1, 2)
      |SELECT src_a, src_b, n_shared,
      |  ROUND(n_shared * 1.0 / (sa.n + sb.n - n_shared), 6) AS jaccard
      |FROM ov
      |JOIN sz sa ON sa.source = src_a
      |JOIN sz sb ON sb.source = src_b
      |ORDER BY src_a, src_b""".stripMargin) { (s, d) =>
    // Materialize the per-source vocabulary ONCE: without the checkpoint
    // the scan→ngrams→distinct subtree plans four times (both self-join
    // sides and both size branches) — 4x the corpus pass at any scale.
    val g = graft.Reliable.owned(Tables.documents(s, d)
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 3)
      .select(col("source"), explode(NGrams.ngrams(col("toks"), 3)).as("gr"))
      .select(col("source"),
        expr("CAST(conv(substr(md5(gr), 1, 15), 16, 10) AS BIGINT)").as("gh"))
      .distinct())
    val sz = g.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val ov = g.as("a")
      .join(g.as("b"), col("a.gh") === col("b.gh") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("n_shared"))
    ov.join(sz.as("sa"), col("src_a") === col("sa.source"))
      .join(sz.as("sb"), col("src_b") === col("sb.source"))
      .select(col("src_a"), col("src_b"), col("n_shared"),
        round(col("n_shared") * 1.0 / (col("sa.n") + col("sb.n") - col("n_shared")), 6)
          .as("jaccard"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** Two-sample Kolmogorov–Smirnov drift between the doc-length
    * distributions of the two largest sources — the batch-over-batch
    * distribution-shift monitor a production pipeline alarms on. The
    * ECDF difference is computed at distinct n_chars values (a window
    * over the VALUE DOMAIN, not the corpus — bounded by length
    * diversity), and the statistic stays exact: D is reported as the
    * integer cross-scaled max |cumA·nB − cumB·nA| plus its double form.
    */
  val ksDrift = Q(
    "q120_ks_drift",
    """WITH src AS (
      |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
      |    ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, source) AS rk
      |  FROM documents GROUP BY source),
      |pa AS (SELECT source, n FROM src WHERE rk = 1),
      |pb AS (SELECT source, n FROM src WHERE rk = 2),
      |d AS (SELECT n_chars,
      |    COUNT(*) FILTER (WHERE source = (SELECT source FROM pa)) AS ca,
      |    COUNT(*) FILTER (WHERE source = (SELECT source FROM pb)) AS cb
      |  FROM documents
      |  WHERE source = (SELECT source FROM pa) OR source = (SELECT source FROM pb)
      |  GROUP BY n_chars),
      |c AS (SELECT SUM(ca) OVER (ORDER BY n_chars) AS cum_a,
      |             SUM(cb) OVER (ORDER BY n_chars) AS cum_b FROM d)
      |-- pa/pb join as RELATIONS (not scalar subqueries): with fewer than
      |-- two sources the result is 0 rows, matching the Spark side
      |SELECT pa.source AS src_a, pb.source AS src_b, pa.n AS n_a, pb.n AS n_b,
      |  CAST(MAX(ABS(cum_a * pb.n - cum_b * pa.n)) AS BIGINT) AS d_scaled,
      |  ROUND(MAX(ABS(cum_a * pb.n - cum_b * pa.n)) * 1.0 / (pa.n * pb.n), 6) AS ks_stat
      |FROM c CROSS JOIN pa CROSS JOIN pb
      |GROUP BY pa.source, pb.source, pa.n, pb.n
      |ORDER BY src_a""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val ranked = docs.groupBy(col("source")).agg(count(lit(1)).as("n"))
      .withColumn("rk",
        row_number().over(Window.orderBy(col("n").desc, col("source"))))
    val pa = ranked.filter(col("rk") === 1)
      .select(col("source").as("src_a"), col("n").as("n_a"))
    val pb = ranked.filter(col("rk") === 2)
      .select(col("source").as("src_b"), col("n").as("n_b"))
    val counts = docs.crossJoin(broadcast(pa)).crossJoin(broadcast(pb))
      .filter(col("source") === col("src_a") || col("source") === col("src_b"))
      .groupBy(col("n_chars"))
      .agg(max(col("src_a")).as("src_a"), max(col("n_a")).as("n_a"),
        max(col("src_b")).as("src_b"), max(col("n_b")).as("n_b"),
        count(when(col("source") === col("src_a"), 1)).as("ca"),
        count(when(col("source") === col("src_b"), 1)).as("cb"))
    val w = Window.orderBy(col("n_chars"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    counts
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
        sum(col("ca")).over(w).as("cum_a"), sum(col("cb")).over(w).as("cum_b"))
      .groupBy(col("src_a"), col("src_b"), col("n_a"), col("n_b"))
      .agg(max(abs(col("cum_a") * col("n_b") - col("cum_b") * col("n_a")))
        .as("d_scaled"))
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"), col("d_scaled"),
        round(col("d_scaled") * 1.0 / (col("n_a") * col("n_b")), 6).as("ks_stat"))
      .orderBy(col("src_a"))
  }

  /** Library form of the q120 statistic: exact two-sample KS between
    * `valueCol`'s distributions in two DataFrames, as one row
    * (n_a, n_b, d_scaled, ks_stat). ECDFs difference over the joint
    * VALUE DOMAIN; D stays exact integer cross-scaled — in
    * DECIMAL(38,0), because the cross-scaled products (cum·n) and the
    * n_a·n_b denominator overflow BIGINT once per-side counts pass
    * ~3e9, exactly the corpus sizes the scaladocs pitch. An empty side
    * yields ks_stat = 0.0 by convention (no data → no drift evidence),
    * never a null that NPEs the run report's getAs[Double]. Used by
    * CorpusPipeline's run report (raw vs shipped length drift).
    */
  private[graft] def ksBetween(a: org.apache.spark.sql.DataFrame,
      b: org.apache.spark.sql.DataFrame, valueCol: String): org.apache.spark.sql.DataFrame = {
    val ca = a.groupBy(col(valueCol).as("v")).agg(count(lit(1)).as("ca"))
    val cb = b.groupBy(col(valueCol).as("v")).agg(count(lit(1)).as("cb"))
    // materialize the joined domain counts once: both the totals and the
    // windowed ECDF read it (totals come from a plain sum of d — NOT a
    // max over the windowed cumsums, which would re-run the window)
    val d = graft.Reliable.owned(
      ca.join(cb, Seq("v"), "full_outer").na.fill(0L, Seq("ca", "cb")))
    val tot = d.agg(sum(col("ca")).as("n_a"), sum(col("cb")).as("n_b"))
    val w = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    d.select(sum(col("ca")).over(w).as("cum_a"), sum(col("cb")).over(w).as("cum_b"))
      .crossJoin(broadcast(tot))
      .agg(
        max(abs(dec(col("cum_a")) * dec(col("n_b")) -
          dec(col("cum_b")) * dec(col("n_a")))).as("d_scaled"),
        max(col("n_a")).as("n_a"), max(col("n_b")).as("n_b"))
      .select(
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"),
        coalesce(col("d_scaled"), dec(lit(0))).as("d_scaled"),
        when(coalesce(col("n_a"), lit(0L)) > 0 && coalesce(col("n_b"), lit(0L)) > 0,
          round((dec(col("d_scaled")) / (dec(col("n_a")) * dec(col("n_b"))))
            .cast("double"), 6))
          .otherwise(lit(0.0)).as("ks_stat"))
  }

  /** Per-source dataset card — the one-table corpus report a curation
    * run publishes: volume (docs/chars), language diversity, length
    * spread (min/max plus exact integer mean), and the short-doc share
    * that drives the length filter. ONE partial-agg'd groupBy over a
    * narrow projection; distinct-language counts expand to
    * (source, lang) pairs first, which is config-cardinality-sized.
    */
  val datasetCard = Q(
    "q123_dataset_card",
    """SELECT source,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      |  CAST(MIN(n_chars) AS BIGINT) AS min_chars,
      |  CAST(MAX(n_chars) AS BIGINT) AS max_chars,
      |  (2 * CAST(SUM(n_chars) AS BIGINT) * 100 + COUNT(*)) // (2 * COUNT(*)) / 100.0
      |    AS mean_chars,
      |  (2 * COUNT(CASE WHEN n_chars < 120 THEN 1 END) * 1000000 + COUNT(*))
      |    // (2 * COUNT(*)) / 10000.0 AS short_pct
      |FROM documents
      |GROUP BY source
      |ORDER BY source""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"),
        sum(col("n_chars")).as("total_chars"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"),
        Det.halfUpDiv(sum(col("n_chars")) * 100, count(lit(1))).as("mean_c100"),
        count(when(col("n_chars") < 120, 1)).as("n_short"))
      .select(col("source"), col("n_docs"), col("n_langs"), col("total_chars"),
        col("min_chars"), col("max_chars"),
        (col("mean_c100") / 100.0).as("mean_chars"),
        (Det.halfUpDiv(col("n_short") * 1000000, col("n_docs")) / 10000.0)
          .as("short_pct"))
      .orderBy(col("source"))
  }

  /** Sketch-based cross-source overlap — the 100 TB path for q103's
    * contamination matrix: ONE HLL sketch per source (KB-sized,
    * mergeable, built with map-side partial aggregation over the gram
    * stream) replaces the distinct-vocabulary self-join entirely;
    * pairwise overlap comes from inclusion–exclusion on sketch unions
    * of the broadcast 20-row sketch table. Estimates are DataSketches
    * HLL (deterministic for a given input set, but engine-specific), so
    * the oracle-checkable form outputs the EXACT per-source and shared
    * gram counts plus booleans asserting each estimate sits within its
    * error bound (per-set: 8% ≈ 5σ at the default lgK=12 sketch's ~1.6%
    * rsd; shared via inclusion–exclusion: the sum of the three
    * constituent sketch errors, bounded by 12% of n_a+n_b plus a
    * small-count floor). The bounds carry ~5σ headroom because a harness
    * testdata regeneration resamples the input set and rsd is a standard
    * deviation, not a guarantee (round-8 advice) — a lone flip of one of
    * these booleans after a regeneration indicts the bound, not the
    * plan. The exact twin here is oracle-scale verification only — at
    * 100 TB the sketch path IS the product and the exact columns come
    * from q103's batch matrix when needed.
    */
  val sourceOverlapSketch = Q(
    "q125_source_overlap_sketch",
    """WITH t AS (
      |  SELECT source, string_split(text, ' ') AS toks FROM documents
      |  WHERE len(string_split(text, ' ')) >= 3),
      |r AS (
      |  SELECT source, unnest(list_transform(range(1, len(toks) - 1),
      |    i -> array_to_string(toks[i:i+2], ' '))) AS gr
      |  FROM t),
      |g AS (SELECT DISTINCT source, gr FROM r),
      |sz AS (SELECT source, COUNT(*) AS n FROM g GROUP BY source),
      |ov AS (
      |  SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_shared
      |  FROM g a JOIN g b ON a.gr = b.gr AND a.source < b.source
      |  GROUP BY 1, 2)
      |SELECT sa.source AS src_a, sb.source AS src_b,
      |  sa.n AS n_a, sb.n AS n_b,
      |  COALESCE(ov.n_shared, 0) AS n_shared,
      |  TRUE AS a_ok, TRUE AS b_ok, TRUE AS shared_ok
      |FROM sz sa JOIN sz sb ON sa.source < sb.source
      |LEFT JOIN ov ON ov.src_a = sa.source AND ov.src_b = sb.source
      |ORDER BY src_a, src_b""".stripMargin) { (s, d) =>
    // One distinct per-source vocabulary pass feeds BOTH sides: the HLL
    // sketches (the scale path under check) and the exact counts (the
    // in-query oracle twin). Checkpointed so the subtree plans once.
    val g = graft.Reliable.owned(Tables.documents(s, d)
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 3)
      .select(col("source"), explode(NGrams.ngrams(col("toks"), 3)).as("gr"))
      .distinct())
    val sk = g.groupBy(col("source"))
      .agg(hll_sketch_agg(xxhash64(col("gr"))).as("sk"),
        count(lit(1)).as("n"),
        hll_sketch_estimate(hll_sketch_agg(xxhash64(col("gr")))).as("est_n"))
    val ov = g.as("a")
      .join(g.as("b"), col("a.gr") === col("b.gr") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("o_a"), col("b.source").as("o_b"))
      .agg(count(lit(1)).as("n_shared_raw"))
    sk.as("a").join(sk.as("b"), col("a.source") < col("b.source"))
      .join(ov,
        col("a.source") === col("o_a") && col("b.source") === col("o_b"), "left")
      .select(col("a.source").as("src_a"), col("b.source").as("src_b"),
        col("a.n").as("n_a"), col("b.n").as("n_b"),
        coalesce(col("n_shared_raw"), lit(0L)).as("n_shared"),
        col("a.est_n").as("est_a"), col("b.est_n").as("est_b"),
        (col("a.est_n") + col("b.est_n")
          - hll_sketch_estimate(hll_union(col("a.sk"), col("b.sk"))))
          .as("est_shared"))
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"), col("n_shared"),
        (abs(col("est_a") - col("n_a")) <= col("n_a") * 0.08).as("a_ok"),
        (abs(col("est_b") - col("n_b")) <= col("n_b") * 0.08).as("b_ok"),
        (abs(col("est_shared") - col("n_shared"))
          <= (col("n_a") + col("n_b")) * 0.12 + 24).as("shared_ok"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** Float-free lexical quality signals per document — the Gopher-rule
    * family without a single transcendental: type/token ratio, top-token
    * fraction (the "most common word share" repetition rule) and the
    * Gini–Simpson concentration Σ(c/n)² — all exact rationals in BIGINT
    * micro-units ([[Det.halfUpDiv]]), where an entropy formulation would
    * hit the cross-engine log instability q113 documents. Two chained
    * partial-agg'd groupBys over the token stream; nothing is pairwise.
    */
  val lexicalDiversity = Q(
    "q131_lexical_diversity",
    """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      |c AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS n FROM t GROUP BY doc_id, tok),
      |a AS (SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_tokens,
      |        CAST(COUNT(*) AS BIGINT) AS n_types,
      |        MAX(n) AS max_n, CAST(SUM(n * n) AS BIGINT) AS sum_n2
      |      FROM c GROUP BY doc_id)
      |SELECT doc_id, n_tokens, n_types,
      |  (2 * n_types * 1000000 + n_tokens) // (2 * n_tokens) / 1000000.0 AS ttr,
      |  (2 * max_n * 1000000 + n_tokens) // (2 * n_tokens) / 1000000.0 AS top_tok_frac,
      |  (2 * sum_n2 * 1000000 + n_tokens * n_tokens)
      |    // (2 * n_tokens * n_tokens) / 1000000.0 AS simpson
      |FROM a
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("doc_id"))
      .agg(sum(col("n")).as("n_tokens"), count(lit(1)).as("n_types"),
        max(col("n")).as("max_n"), sum(col("n") * col("n")).as("sum_n2"))
      .select(col("doc_id"), col("n_tokens"), col("n_types"),
        (Det.halfUpDiv(col("n_types") * 1000000, col("n_tokens")) / 1000000.0).as("ttr"),
        (Det.halfUpDiv(col("max_n") * 1000000, col("n_tokens")) / 1000000.0)
          .as("top_tok_frac"),
        (Det.halfUpDiv(col("sum_n2") * 1000000, col("n_tokens") * col("n_tokens"))
          / 1000000.0).as("simpson"))
      .orderBy(col("doc_id"))
  }

  /** Cross-split contamination audit: after q87's hash split, does the
    * eval side share verbatim 5-gram spans with train? (Exact-fingerprint
    * leakage is the easy case — span-level overlap is what actually
    * inflates eval scores, the q97 decontamination semantics turned
    * inward on the pipeline's own split.) The span table is the SHARED
    * session artifact q117 also consumes (one corpus pass for both
    * span-level analyses); split and source attach by doc_id primary
    * key. The train span vocabulary is corpus-vocabulary-sized and at
    * 100 TB the probe side joins against it directly (or its q90-style
    * Bloom projection) — never doc × doc. Output: per (source, split)
    * eval-doc counts and how many are contaminated.
    */
  val splitContamination = Q(
    "q134_split_contamination",
    """WITH d AS (
      |  SELECT doc_id, source, string_split(text, ' ') AS t,
      |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT % 100 AS bucket
      |  FROM documents WHERE len(string_split(text, ' ')) >= 5),
      |s AS (SELECT doc_id, source, t,
      |        CASE WHEN bucket < 90 THEN 'train'
      |             WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split
      |      FROM d),
      |g AS (SELECT DISTINCT doc_id, source, split,
      |        ('0x' || substr(md5(gr), 1, 15))::BIGINT AS gh FROM (
      |  SELECT doc_id, source, split, unnest(list_transform(range(1, len(t) - 3),
      |    i -> array_to_string(t[i:i+4], ' '))) AS gr FROM s) q),
      |tr AS (SELECT DISTINCT gh FROM g WHERE split = 'train'),
      |ev AS (SELECT doc_id, source, split,
      |         COUNT(*) FILTER (WHERE gh IN (SELECT gh FROM tr)) AS n_hit
      |       FROM g WHERE split <> 'train' GROUP BY doc_id, source, split)
      |SELECT source, split, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(COUNT(*) FILTER (WHERE n_hit > 0) AS BIGINT) AS n_contaminated
      |FROM ev GROUP BY source, split
      |ORDER BY source, split""".stripMargin) { (s, d) =>
    val meta = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), splitLabel.as("split"))
    val grams = Dedup.spanTable(s, d).join(meta, Seq("doc_id"))
    val trainSpans = grams.filter(col("split") === "train").select(col("gh")).distinct()
    grams.filter(col("split") =!= "train")
      .join(trainSpans.withColumn("hit", lit(1)), Seq("gh"), "left")
      .groupBy(col("doc_id"), col("source"), col("split"))
      .agg(count(col("hit")).as("n_hit"))
      .groupBy(col("source"), col("split"))
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("n_hit") > 0, 1)).as("n_contaminated"))
      .orderBy(col("source"), col("split"))
  }

  /** Token-budget allocation across sources — the data-mixture
    * water-filling problem: a budget of half the corpus' tokens, an
    * equal target share per source, and two allocation rounds: round 1
    * gives each source min(its tokens, budget/K); round 2 redistributes
    * the leftover equally across the sources that still have headroom.
    * (Production allocators iterate to fixpoint; two unrolled rounds
    * exhibit the saturation/redistribution mechanics that make uniform
    * rate × budget WRONG when sources are skewed.) Everything is
    * BIGINT division — bit-identical across engines — and the only
    * data-bearing aggregate is one per-source token count; the
    * allocation itself runs on the K-row source table.
    */
  val tokenBudget = Q(
    "q136_token_budget",
    """WITH s AS (
      |  SELECT source, CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_toks
      |  FROM documents GROUP BY source),
      |tot AS (SELECT CAST(SUM(n_toks) AS BIGINT) AS total,
      |               CAST(COUNT(*) AS BIGINT) AS k,
      |               CAST(SUM(n_toks) AS BIGINT) // 2 AS budget FROM s),
      |r1 AS (SELECT s.source, s.n_toks, tot.budget,
      |         LEAST(s.n_toks, tot.budget // tot.k) AS a1
      |       FROM s CROSS JOIN tot),
      |l1 AS (SELECT CAST(SUM(a1) AS BIGINT) AS spent,
      |         CAST(COUNT(*) FILTER (WHERE a1 < n_toks) AS BIGINT) AS unsat
      |       FROM r1),
      |r2 AS (SELECT r1.source, r1.n_toks,
      |         LEAST(r1.n_toks, r1.a1 + CASE WHEN r1.a1 < r1.n_toks
      |           THEN (r1.budget - l1.spent) // GREATEST(l1.unsat, 1) ELSE 0 END)
      |           AS allocated
      |       FROM r1 CROSS JOIN l1)
      |SELECT source, n_toks, allocated,
      |  (2 * allocated * 1000 + n_toks) // (2 * n_toks) / 1000.0 AS rate
      |FROM r2
      |ORDER BY source""".stripMargin) { (s, d) =>
    val src = Tables.documents(s, d)
      .groupBy(col("source"))
      .agg(sum(size(split(col("text"), " ")).cast("long")).as("n_toks"))
    val tot = src.agg(sum(col("n_toks")).as("total"), count(lit(1)).as("k"))
      .withColumn("budget", expr("total DIV 2"))
    val r1 = src.crossJoin(broadcast(tot))
      .withColumn("a1", least(col("n_toks"), expr("budget DIV k")))
    val l1 = r1.agg(sum(col("a1")).as("spent"),
      count(when(col("a1") < col("n_toks"), 1)).as("unsat"))
    r1.crossJoin(broadcast(l1))
      .withColumn("allocated", least(col("n_toks"),
        col("a1") + when(col("a1") < col("n_toks"),
          expr("(budget - spent) DIV GREATEST(unsat, 1L)")).otherwise(0L)))
      .select(col("source"), col("n_toks"), col("allocated"),
        (Det.halfUpDiv(col("allocated") * 1000, col("n_toks")) / 1000.0).as("rate"))
      .orderBy(col("source"))
  }

  /** Per-source adaptive quality gate: each source's own 10th-percentile
    * length is its bar (position-based — the value at sorted rank
    * ⌈n/10⌉, ties broken by doc_id, so NO interpolation and no float
    * percentile semantics to reconcile across engines); docs strictly
    * above the bar pass. This is the per-domain adaptive filter
    * (fixed global thresholds over-prune clean sources and under-prune
    * noisy ones). One rank window per source + a K-row broadcast of the
    * bars back to the stream.
    */
  val adaptiveQualityGate = Q(
    "q138_adaptive_quality_gate",
    """WITH d AS (SELECT doc_id, source, n_chars FROM documents),
      |r AS (SELECT source, n_chars,
      |        ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rn,
      |        COUNT(*) OVER (PARTITION BY source) AS n
      |      FROM d),
      |thr AS (SELECT source, n_chars AS threshold_chars FROM r
      |        WHERE rn = (n + 9) // 10)
      |SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  thr.threshold_chars,
      |  CAST(COUNT(*) FILTER (WHERE d.n_chars > thr.threshold_chars) AS BIGINT)
      |    AS n_kept,
      |  CAST(COUNT(*) FILTER (WHERE d.n_chars <= thr.threshold_chars) AS BIGINT)
      |    AS n_dropped
      |FROM d JOIN thr USING (source)
      |GROUP BY d.source, thr.threshold_chars
      |ORDER BY source""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d).select(col("doc_id"), col("source"), col("n_chars"))
    val w = Window.partitionBy(col("source"))
    val thr = docs
      .withColumn("rn", row_number().over(w.orderBy(col("n_chars"), col("doc_id"))))
      .withColumn("n", count(lit(1)).over(w))
      .filter(col("rn") === expr("(n + 9) DIV 10"))
      .select(col("source"), col("n_chars").as("threshold_chars"))
    docs.join(broadcast(thr), Seq("source"))
      .groupBy(col("source"), col("threshold_chars"))
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("n_chars") > col("threshold_chars"), 1)).as("n_kept"),
        count(when(col("n_chars") <= col("threshold_chars"), 1)).as("n_dropped"))
      .select(col("source"), col("n_docs"), col("threshold_chars"),
        col("n_kept"), col("n_dropped"))
      .orderBy(col("source"))
  }

  /** Hash bucket in [0, 10) from a hex slice of md5(id) — the split
    * assigner. Chars 17-23 so it decorrelates from the sampling hashes
    * (q60/q121 use 1-7, the corpus mixture uses 9-15).
    */
  private def splitBucket(id: String) =
    expr(s"CAST(conv(substr(md5(CAST($id AS STRING)), 17, 7), 16, 10) AS BIGINT) % 10")

  private def splitName(bucket: org.apache.spark.sql.Column) =
    when(bucket < 8, "train").when(bucket === 8, "val").otherwise("test")

  private val SplitSqlA =
    "('0x' || substr(md5(CAST(%s AS VARCHAR)), 17, 7))::BIGINT %% 10"

  private def splitSql(idExpr: String): String = {
    val b = SplitSqlA.format(idExpr)
    s"CASE WHEN $b < 8 THEN 'train' WHEN $b = 8 THEN 'val' ELSE 'test' END"
  }

  /** Dedup-cluster-aware train/val/test split with a leakage audit.
    * Naive per-document hash splitting leaks: near-duplicate documents
    * land on different sides of the train/test cut and the eval set is
    * contaminated. The guarded split assigns every document the split
    * of its near-dup CLUSTER representative (q57's connected components
    * over the LSH candidate graph; singletons are their own rep), which
    * makes cross-split near-dup pairs structurally impossible. Output:
    * per-split sizes under the guarded assignment plus the audit — the
    * naive assignment's leaking pair count vs the guarded one's
    * (always 0, and the query proves it rather than asserting it).
    *
    * Scale: the component labels come from the SHARED candidate graph
    * (edge-count-sized, not corpus-sized); the corpus pays one
    * broadcast-able left join against the label table and one narrow
    * projection. The audit joins the split table to the EDGE list —
    * again candidate-sized. Deterministic: split membership is a pure
    * function of md5(rep doc_id), so reruns and incremental extensions
    * place every old document exactly where it was.
    */
  val splitLeakageGuard = Q(
    "q155_split_leakage_guard",
    (TextOps.ccOracleSql +
      s""",
      |rep AS (
      |  SELECT d.doc_id, COALESCE(c.cluster, d.doc_id) AS rep
      |  FROM documents d LEFT JOIN cl c ON c.node = d.doc_id),
      |sp AS (
      |  SELECT doc_id, rep,
      |    ${splitSql("doc_id")} AS naive_split,
      |    ${splitSql("rep")} AS split
      |  FROM rep),
      |leak AS (
      |  SELECT
      |    CAST(COUNT(CASE WHEN a.naive_split <> b.naive_split THEN 1 END) AS BIGINT)
      |      AS naive_leak_pairs,
      |    CAST(COUNT(CASE WHEN a.split <> b.split THEN 1 END) AS BIGINT)
      |      AS guarded_leak_pairs
      |  FROM edges e JOIN sp a ON a.doc_id = e.src
      |               JOIN sp b ON b.doc_id = e.dst)
      |SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(COUNT(DISTINCT rep) AS BIGINT) AS n_clusters,
      |  naive_leak_pairs, guarded_leak_pairs
      |FROM sp CROSS JOIN leak
      |GROUP BY split, naive_leak_pairs, guarded_leak_pairs
      |ORDER BY split""").stripMargin) { (s, d) =>
    val labels = DedupClusters.clusterLabels(s, d)
      .select(col("node"), col("label"))
    // sp feeds THREE plan branches (both leak-join sides + the final
    // groupBy); Spark does not dedup common subplans, so materialize the
    // narrow 4-column table once (the q32 multi-branch-base pattern)
    // instead of scanning + label-joining the corpus three times.
    val sp = graft.Reliable.owned(Tables.documents(s, d).select(col("doc_id"))
      .join(broadcast(labels), col("doc_id") === col("node"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("rep"))
      .select(col("doc_id"), col("rep"),
        splitName(splitBucket("doc_id")).as("naive_split"),
        splitName(splitBucket("rep")).as("split")))
    val edges = TextOps.minhashCandidates(s, d)
    val leak = edges
      .join(sp.select(col("doc_id"), col("naive_split").as("na"),
        col("split").as("ga")), col("doc_id") === col("da")).drop("doc_id")
      .join(sp.select(col("doc_id"), col("naive_split").as("nb"),
        col("split").as("gb")), col("doc_id") === col("db")).drop("doc_id")
      .agg(
        count(when(col("na") =!= col("nb"), 1)).as("naive_leak_pairs"),
        count(when(col("ga") =!= col("gb"), 1)).as("guarded_leak_pairs"))
    sp.crossJoin(broadcast(leak))
      .groupBy(col("split"), col("naive_leak_pairs"), col("guarded_leak_pairs"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("rep")).as("n_clusters"))
      .select(col("split"), col("n_docs"), col("n_clusters"),
        col("naive_leak_pairs"), col("guarded_leak_pairs"))
      .orderBy(col("split"))
  }

  /** Exact integer square root: floor(sqrt(x)) from the double sqrt,
    * then a ±1 integer correction so a one-ulp double error at a
    * perfect-square boundary cannot flip the result. Exact for every
    * x < 2^52; identical in DuckDB (same correction spelled in SQL).
    */
  private[graft] def isqrt(x: org.apache.spark.sql.Column) = {
    val r0 = floor(sqrt(x.cast("double"))).cast("long")
    r0 + when((r0 + 1) * (r0 + 1) <= x, 1L).otherwise(0L) -
      when(r0 * r0 > x, 1L).otherwise(0L)
  }

  private def isqrtSql(x: String): String =
    s"""(CAST(FLOOR(SQRT(CAST($x AS DOUBLE))) AS BIGINT)
       | + CASE WHEN (CAST(FLOOR(SQRT(CAST($x AS DOUBLE))) AS BIGINT) + 1)
       |          * (CAST(FLOOR(SQRT(CAST($x AS DOUBLE))) AS BIGINT) + 1) <= $x
       |        THEN 1 ELSE 0 END
       | - CASE WHEN CAST(FLOOR(SQRT(CAST($x AS DOUBLE))) AS BIGINT)
       |          * CAST(FLOOR(SQRT(CAST($x AS DOUBLE))) AS BIGINT) > $x
       |        THEN 1 ELSE 0 END)""".stripMargin.replaceAll("\n", " ")

  /** Temperature-scaled language mixture — the multilingual rebalance
    * (XLM-R/mT5): sample language ℓ proportionally to n_ℓ^α with
    * α = 1/2, which upweights low-resource languages relative to their
    * raw share. Weights are EXACT integer square roots (no float pow),
    * per-language doc targets are half-up rationals of a fixed 200-doc
    * budget, and membership is a SALTED deterministic md5 hash
    * ('tmix:' prefix — every md5 hex slice is already claimed by
    * q60/q121 (1-7), the corpus mixture (9-15), q155's split (17-23)
    * and q158 (25-31), so decorrelation comes from a salt) compared
    * by integer cross-multiplication (keep ⇔ h·n_ℓ < target_ℓ·10^6 —
    * no float division), so the sample is reproducible under reruns,
    * repartitioning, and incremental extension. A language whose target
    * exceeds its size keeps everything (the comparison saturates
    * naturally). Scale: one language-sized aggregate (broadcast back),
    * one narrow corpus projection — the corpus never shuffles.
    */
  val temperatureMixture = Q(
    "q156_temperature_mixture",
    s"""WITH c AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n
      |           FROM documents GROUP BY lang),
      |w AS (SELECT lang, n, ${isqrtSql("n")} AS wt FROM c),
      |tw AS (SELECT CAST(SUM(wt) AS BIGINT) AS total_w FROM w),
      |tgt AS (SELECT lang, n, wt,
      |          (2 * 200 * wt + total_w) // (2 * total_w) AS target
      |        FROM w CROSS JOIN tw),
      |s AS (SELECT d.doc_id, d.lang, t.n, t.wt, t.target,
      |        ('0x' || substr(md5('tmix:' || CAST(d.doc_id AS VARCHAR)), 1, 7))::BIGINT
      |          % 1000000 AS hv
      |      FROM documents d JOIN tgt t USING (lang))
      |SELECT lang, MAX(n) AS n_docs, MAX(wt) AS weight,
      |  CAST(MAX(target) AS BIGINT) AS target_docs,
      |  CAST(COUNT(CASE WHEN hv * n < target * 1000000 THEN 1 END) AS BIGINT)
      |    AS n_sampled
      |FROM s GROUP BY lang
      |ORDER BY lang""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val c = docs.groupBy(col("lang")).agg(count(lit(1)).as("n"))
    val w = c.select(col("lang"), col("n"), isqrt(col("n")).as("wt"))
    val tw = w.agg(sum(col("wt")).as("total_w"))
    val tgt = w.crossJoin(broadcast(tw))
      .select(col("lang"), col("n"), col("wt"),
        Det.halfUpDiv(lit(200L) * col("wt"), col("total_w")).as("target"))
    docs.join(broadcast(tgt), Seq("lang"))
      .withColumn("hv",
        expr("CAST(conv(substr(md5(concat('tmix:', CAST(doc_id AS STRING))), 1, 7), 16, 10) AS BIGINT) % 1000000"))
      .groupBy(col("lang"))
      .agg(max(col("n")).as("n_docs"), max(col("wt")).as("weight"),
        max(col("target")).as("target_docs"),
        count(when(col("hv") * col("n") < col("target") * lit(1000000L), 1))
          .as("n_sampled"))
      .orderBy(col("lang"))
  }

  /** Trainable linear quality classifier — the FineWeb-Edu distillation
    * shape: a teacher signal (here a length rule, standing in for the
    * LLM grader) is distilled into a cheap linear scorer over different
    * correlated features (token count, distinct-token count, mean token
    * length), which then scores the whole corpus at projection cost.
    * Training is THREE full-batch gradient-descent steps on a
    * hard-sigmoid linear probability model, entirely in exact BIGINT
    * micro-units ([[Det.halfUpDiv]] everywhere, clamp instead of exp) —
    * so the distributed training loop is bit-identically replayable by
    * the DuckDB oracle, step for step. Features are mean-centered
    * (exact integer means) so the bias absorbs the class prior instead
    * of dragging every weight.
    *
    * Scale shape: features are ONE flat codegen'd projection (array
    * size/distinct on the token split — no explode, no shuffle); each
    * GD step is one partial-agg'd scan of the materialized feature
    * table collecting 4 numbers to the driver (the same bounded-read
    * pattern as the Lloyd/PQ trainers); scoring is a projection with
    * the learned weights as literals. Learned check: accuracy lands
    * ~96% against a ~50% class prior (Advanced15Spec).
    */
  private[ops] val ZSql = Tokenization.hudSql("w1*f1 + w2*f2 + w3*f3 + wb*1000000", "1000000")

  private[ops] val SigSql =
    s"LEAST(1000000, GREATEST(0, ${Tokenization.hudSql(s"($ZSql) + 2000000", "4")}))"

  /** The shared oracle prefix of the q157/q158 family: feature
    * extraction, exact integer centering, and the 3-step hard-sigmoid
    * gradient descent, ending at the trained weight table `w3t` (and
    * the centered feature table `x`, which carries `source` through for
    * the sampling tail). ONE definition so the two oracles cannot
    * desynchronize their training replays.
    */
  /** The three raw-feature SQL expressions (ppm, uncentered) — shared
    * by [[lqcOraclePrefix]] and q162's delta-side feature CTE.
    */
  private[ops] def lqcRawSql: (String, String, String) = (
    s"LEAST(1000000, ${Tokenization.hudSql("CAST(len(string_split(text,' ')) AS BIGINT) * 1000000", "100")})",
    s"LEAST(1000000, ${Tokenization.hudSql("CAST(len(list_distinct(string_split(text,' '))) AS BIGINT) * 1000000", "60")})",
    s"LEAST(1000000, ${Tokenization.hudSql("n_chars * 1000000", "8 * CAST(len(string_split(text,' ')) AS BIGINT)")})")

  private[ops] def lqcOraclePrefix(corpusSql: String = "documents"): String = {
    val (r1s, r2s, r3s) = lqcRawSql
    def gradStep(prev: String, errTbl: String): String =
      s"""(SELECT
         |  MAX(w1) - 4 * ${Tokenization.hudSql(s"CAST(SUM(${Tokenization.hudSql("err * f1", "1000000")}) AS BIGINT)", "n")} AS w1,
         |  MAX(w2) - 4 * ${Tokenization.hudSql(s"CAST(SUM(${Tokenization.hudSql("err * f2", "1000000")}) AS BIGINT)", "n")} AS w2,
         |  MAX(w3) - 4 * ${Tokenization.hudSql(s"CAST(SUM(${Tokenization.hudSql("err * f3", "1000000")}) AS BIGINT)", "n")} AS w3,
         |  MAX(wb) - 4 * ${Tokenization.hudSql("CAST(SUM(err) AS BIGINT)", "n")} AS wb
         | FROM $errTbl CROSS JOIN $prev CROSS JOIN n0 GROUP BY n)""".stripMargin
    s"""WITH raw AS (
      |  SELECT doc_id, source, CASE WHEN n_chars > 300 THEN 1000000 ELSE 0 END AS y,
      |    $r1s AS r1,
      |    $r2s AS r2,
      |    $r3s AS r3
      |  FROM $corpusSql),
      |n0 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM raw),
      |mu AS (SELECT ${Tokenization.hudSql("CAST(SUM(r1) AS BIGINT)", "n")} AS m1,
      |        ${Tokenization.hudSql("CAST(SUM(r2) AS BIGINT)", "n")} AS m2,
      |        ${Tokenization.hudSql("CAST(SUM(r3) AS BIGINT)", "n")} AS m3
      |       FROM raw CROSS JOIN n0 GROUP BY n),
      |x AS (SELECT doc_id, source, y, r1 - m1 AS f1, r2 - m2 AS f2, r3 - m3 AS f3
      |      FROM raw CROSS JOIN mu),
      |e1 AS (SELECT doc_id, y, f1, f2, f3, 500000 - y AS err FROM x),
      |w0t AS (SELECT CAST(0 AS BIGINT) AS w1, CAST(0 AS BIGINT) AS w2,
      |         CAST(0 AS BIGINT) AS w3, CAST(0 AS BIGINT) AS wb),
      |w1t AS ${gradStep("w0t", "e1")},
      |e2 AS (SELECT doc_id, y, f1, f2, f3, ($SigSql) - y AS err FROM x CROSS JOIN w1t),
      |w2t AS ${gradStep("w1t", "e2")},
      |e3 AS (SELECT doc_id, y, f1, f2, f3, ($SigSql) - y AS err FROM x CROSS JOIN w2t),
      |w3t AS ${gradStep("w2t", "e3")}""".stripMargin
  }

  val linearQualityClassifier = Q(
    "q157_linear_quality_classifier",
    (lqcOraclePrefix() +
      s""",
        |p AS (SELECT y, CASE WHEN ($ZSql) > 0 THEN 1 ELSE 0 END AS pred
        |      FROM x CROSS JOIN w3t)
        |SELECT (SELECT w1 FROM w3t) AS w_ntok, (SELECT w2 FROM w3t) AS w_ndist,
        |  (SELECT w3 FROM w3t) AS w_toklen, (SELECT wb FROM w3t) AS w_bias,
        |  CAST(COUNT(CASE WHEN pred = 1 AND y = 1000000 THEN 1 END) AS BIGINT) AS tp,
        |  CAST(COUNT(CASE WHEN pred = 1 AND y = 0 THEN 1 END) AS BIGINT) AS fp,
        |  CAST(COUNT(CASE WHEN pred = 0 AND y = 0 THEN 1 END) AS BIGINT) AS tn,
        |  CAST(COUNT(CASE WHEN pred = 0 AND y = 1000000 THEN 1 END) AS BIGINT) AS fn,
        |  ${Tokenization.hudSql("(COUNT(CASE WHEN (pred = 1 AND y = 1000000) OR (pred = 0 AND y = 0) THEN 1 END)) * 1000000", "COUNT(*)")} AS acc_ppm
        |FROM p""".stripMargin)) { (s, d) =>
    val micro = 1000000L
    val (x, w) = trainedModel(s, d)
    val zF = Det.halfUpDiv(
      lit(w(0)) * col("f1") + lit(w(1)) * col("f2") + lit(w(2)) * col("f3") +
        lit(w(3)) * micro, lit(micro))
    x.select(col("y"), when(zF > 0, 1).otherwise(0).as("pred"))
      .agg(
        count(when(col("pred") === 1 && col("y") === micro, 1)).as("tp"),
        count(when(col("pred") === 1 && col("y") === 0L, 1)).as("fp"),
        count(when(col("pred") === 0 && col("y") === 0L, 1)).as("tn"),
        count(when(col("pred") === 0 && col("y") === micro, 1)).as("fn"))
      .select(lit(w(0)).as("w_ntok"), lit(w(1)).as("w_ndist"),
        lit(w(2)).as("w_toklen"), lit(w(3)).as("w_bias"),
        col("tp"), col("fp"), col("tn"), col("fn"),
        Det.halfUpDiv((col("tp") + col("tn")) * micro,
          col("tp") + col("fp") + col("tn") + col("fn")).as("acc_ppm"))
  }

  private[ops] def hudL(num: Long, den: Long): Long =
    (2 * num + (if (num < 0) -den else den)) / (2 * den)

  /** Raw quality features from (doc_id, text) — batch-generic: n_chars
    * derives from `length(text)` (equal to the documents table's
    * `n_chars` column at every SF, so the oracle's column-based form is
    * value-identical) and `extra` columns are carried through. ONE
    * definition shared by q157/q158's trainer and the persisted
    * [[QualityModel]], so the feature recipe cannot fork between the
    * gated queries and the serve path.
    */
  private[ops] def lqcRawFeatures(docs: org.apache.spark.sql.DataFrame,
      extra: Seq[String] = Nil): org.apache.spark.sql.DataFrame = {
    val micro = 1000000L
    val nToks = size(split(col("text"), " ")).cast("long")
    val nChars = length(col("text")).cast("long")
    docs.select(Seq(col("doc_id")) ++ extra.map(col) ++ Seq(
      when(nChars > 300, micro).otherwise(0L).as("y"),
      least(lit(micro), Det.halfUpDiv(nToks * micro, lit(100L))).as("r1"),
      least(lit(micro), Det.halfUpDiv(
        size(array_distinct(split(col("text"), " "))).cast("long") * micro,
        lit(60L))).as("r2"),
      least(lit(micro), Det.halfUpDiv(nChars * micro, lit(8L) * nToks)).as("r3")): _*)
  }

  /** Exact integer feature means over a raw feature table: (n, mus). */
  private[ops] def lqcMeans(raw: org.apache.spark.sql.DataFrame): (Long, Array[Long]) = {
    val Array(nL, s1, s2c, s3c) = raw
      .agg(count(lit(1)), sum(col("r1")), sum(col("r2")), sum(col("r3")))
      .collect()(0).toSeq.map(v => v.toString.toLong).toArray
    (nL, Array(hudL(s1, nL), hudL(s2c, nL), hudL(s3c, nL)))
  }

  /** The 3-step hard-sigmoid gradient descent over a centered feature
    * table `x(f1, f2, f3, y)` — each step ONE partial-agg'd scan
    * collecting 4 longs (the Lloyd-trainer bounded-read pattern).
    * Returns (w1, w2, w3, bias) in micro-units. ONE definition behind
    * q157/q158 and the persisted [[QualityModel]].
    */
  private[ops] def lqcTrain(x: org.apache.spark.sql.DataFrame, nL: Long): Array[Long] = {
    val micro = 1000000L
    var w = Array(0L, 0L, 0L, 0L) // w1, w2, w3, bias — micro-units
    for (_ <- 1 to 3) {
      val zc = Det.halfUpDiv(
        lit(w(0)) * col("f1") + lit(w(1)) * col("f2") + lit(w(2)) * col("f3") +
          lit(w(3)) * micro, lit(micro))
      val sg = least(lit(micro), greatest(lit(0L),
        Det.halfUpDiv(zc + lit(2000000L), lit(4L))))
      val err = (sg - col("y")).as("err")
      val g = x.select(col("f1"), col("f2"), col("f3"), err)
        .agg(sum(Det.halfUpDiv(col("err") * col("f1"), lit(micro))),
          sum(Det.halfUpDiv(col("err") * col("f2"), lit(micro))),
          sum(Det.halfUpDiv(col("err") * col("f3"), lit(micro))),
          sum(col("err")))
        .collect()(0).toSeq.map(v => v.toString.toLong).toArray
      w = w.zip(g).map { case (wi, gi) => wi - 4 * hudL(gi, nL) }
    }
    w
  }

  /** The clamped hard-sigmoid score (ppm) from centered features under
    * weights `w` — the serving arithmetic of the q157/q158 family.
    */
  private[ops] def lqcSig(w: Array[Long]): org.apache.spark.sql.Column = {
    val micro = 1000000L
    val z = Det.halfUpDiv(
      lit(w(0)) * col("f1") + lit(w(1)) * col("f2") + lit(w(2)) * col("f3") +
        lit(w(3)) * micro, lit(micro))
    least(lit(micro), greatest(lit(0L), Det.halfUpDiv(z + lit(2000000L), lit(4L))))
  }

  /** Centered feature table (session-shared; one flat projection,
    * materialized once) and the trained weight vector — computed once
    * per (session, dataset) and reused by q157's eval and q158's
    * sampler, the same train-once serve-many economics as the
    * Lloyd/PQ quantizers. The weights live in a 1-row DataFrame under
    * the SAME [[graft.Shared]] cache as the feature table (not a
    * side map), so session eviction releases both — no JVM-lifetime
    * retention of checkpointed blocks across cycled sessions.
    */
  private def trainedModel(s: org.apache.spark.sql.SparkSession, d: String)
      : (org.apache.spark.sql.DataFrame, Array[Long]) = {
    val x = graft.Shared.materialized(s, s"lqc-centered@$d") {
      val raw = graft.Reliable.owned(lqcRawFeatures(Tables.documents(s, d), Seq("source")))
      val (nL, mus) = lqcMeans(raw)
      raw.select(col("doc_id"), col("source"), col("y"), lit(nL).as("n"),
        (col("r1") - mus(0)).as("f1"), (col("r2") - mus(1)).as("f2"),
        (col("r3") - mus(2)).as("f3"))
    }
    val wDf = graft.Shared.materialized(s, s"lqc-weights@$d") {
      val nL = x.select(col("n")).limit(1).collect()(0).getLong(0)
      val w = lqcTrain(x, nL)
      import s.implicits._
      Seq((w(0), w(1), w(2), w(3))).toDF("w1", "w2", "w3", "wb")
    }
    val r = wDf.collect()(0)
    (x, Array(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
  }

  /** Model-scored quality sampling — the step after q157 trains the
    * scorer: every document keeps with probability proportional to its
    * hard-sigmoid quality score (rate = score/2, so even a perfect doc
    * keeps at 50% — a downsampling pass, not a gate), decided by the
    * shared deterministic md5-hash threshold (chars 25-31, independent
    * of the q60/q121/q155 slices). The comparison is pure integers
    * (h < ⌈score/2⌉ in micro-units), so the sample is reproducible
    * under reruns, repartitioning, and incremental extension, and the
    * oracle replays training AND sampling end-to-end. Output: the
    * per-source funnel (docs, mean score, kept) — the dataset-card row
    * a curation run publishes. Scale: scoring is a projection over the
    * shared feature table; the aggregate is source-sized.
    */
  val qualityWeightedSample = Q(
    "q158_quality_weighted_sample",
    (lqcOraclePrefix() +
      s""",
        |sc AS (SELECT doc_id, source, ($SigSql) AS sig,
        |        ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 25, 7))::BIGINT
        |          % 1000000 AS hv
        |       FROM x CROSS JOIN w3t)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  ${Tokenization.hudSql("CAST(SUM(sig) AS BIGINT)", "COUNT(*)")} AS mean_score_ppm,
        |  CAST(COUNT(CASE WHEN hv < ${Tokenization.hudSql("sig", "2")} THEN 1 END) AS BIGINT)
        |    AS n_sampled
        |FROM sc GROUP BY source
        |ORDER BY source""".stripMargin)) { (s, d) =>
    val micro = 1000000L
    val (x, w) = trainedModel(s, d)
    val zF = Det.halfUpDiv(
      lit(w(0)) * col("f1") + lit(w(1)) * col("f2") + lit(w(2)) * col("f3") +
        lit(w(3)) * micro, lit(micro))
    val sig = least(lit(micro), greatest(lit(0L),
      Det.halfUpDiv(zF + lit(2000000L), lit(4L))))
    x.select(col("source"), sig.as("sig"),
      expr("CAST(conv(substr(md5(CAST(doc_id AS STRING)), 25, 7), 16, 10) AS BIGINT) % 1000000")
        .as("hv"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        Det.halfUpDiv(sum(col("sig")), count(lit(1))).as("mean_score_ppm"),
        count(when(col("hv") < Det.halfUpDiv(col("sig"), lit(2L)), 1))
          .as("n_sampled"))
      .orderBy(col("source"))
  }

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

  // ---------------------------------------------------------------- q181

  private val CurriculumBins = 4

  /** q181: CURRICULUM BINNING — quartile the corpus by q154's
    * interpolated bigram-LM mean transition score (highest = most
    * predictable = "easiest" first), the assignment a curriculum
    * scheduler feeds the trainer. Composes the SHARED q154 machinery on
    * both sides: Spark re-runs [[Tokenization.bigramLmScore]]'s exact
    * integer-ppm pipeline ([[LmModel.modelTables]] — one model-build
    * path), the oracle re-uses [[Tokenization.lmOracleCore]] verbatim and
    * adds one NTILE. Docs without transitions (single-token) are out of
    * scope on both sides, exactly as in q154. The NTILE is computed
    * WITHOUT a global window: [[GlobalOrder.rank]] on (mean_ppm desc,
    * doc_id) — the two-phase distributed form — plus
    * [[GlobalOrder.ntileFromRank]]'s closed form of (rank, total),
    * which reproduces SQL NTILE's first-buckets-larger split exactly.
    */
  val curriculumBins = Q(
    "q181_curriculum_bins",
    (s"WITH ${Tokenization.lmOracleCore("documents")}" +
      s""",
      |sc AS (SELECT g.doc_id,
      |         ${Tokenization.hudSql("9 * e.p_cond + e.p_uni", "10")} AS s
      |       FROM cbg g JOIN bie e ON e.w1 = g.w1 AND e.w2 = g.w2
      |       WHERE g.w2 IS NOT NULL),
      |agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_trans,
      |          CAST((2 * SUM(s) + COUNT(*)) // (2 * COUNT(*)) AS BIGINT) AS mean_ppm
      |        FROM sc GROUP BY doc_id)
      |SELECT doc_id, n_trans, mean_ppm,
      |  CAST(NTILE($CurriculumBins) OVER (ORDER BY mean_ppm DESC, doc_id) AS INTEGER) AS bin
      |FROM agg ORDER BY doc_id""").stripMargin) { (s, d) =>
    // feeds rank partials + total + output: 3 reads
    val scored = graft.Reliable.owned(Tokenization.bigramLmScore.run(s, d)
      .select(col("doc_id"), col("n_trans"), col("mean_ppm")))
    val ranked = GlobalOrder.rank(scored,
      Seq(col("mean_ppm").desc, col("doc_id")), "__rnk")
    val n = scored.agg(count(lit(1)).as("__n"))
    GlobalOrder.ntileFromRank(
        ranked.crossJoin(broadcast(n)), "__rnk", "__n", CurriculumBins, "bin")
      .drop("__rnk", "__n")
      .orderBy(col("doc_id"))
  }

  // ---------------------------------------------------------------- q185

  private val SourceCap = 20

  /** q185: keep at most [[SourceCap]] docs per source by md5 rank; emit
    * the per-source admission summary (kept/dropped and the hash-rank
    * cut the NEXT document must beat). The salted hash ('cap:' prefix)
    * is disjoint from every other hash-slice family in the registry.
    */
  val sourceCaps = Q(
    "q185_source_caps",
    s"""WITH h AS (
       |  SELECT source, doc_id,
       |    md5('cap:' || CAST(doc_id AS VARCHAR)) AS hk,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
       |  FROM documents),
       |r AS (
       |  SELECT source, doc_id, hk, n_toks,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY hk, doc_id) AS INTEGER) AS rnk,
       |    CAST(COUNT(*) OVER (PARTITION BY source) AS INTEGER) AS n_src
       |  FROM h)
       |SELECT source,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(CASE WHEN rnk <= $SourceCap THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  CAST(SUM(CASE WHEN rnk > $SourceCap THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       |  CAST(SUM(CASE WHEN rnk <= $SourceCap THEN n_toks ELSE 0 END) AS BIGINT) AS kept_toks,
       |  MAX(CASE WHEN rnk = LEAST($SourceCap, n_src) THEN hk END) AS cut_hash
       |FROM r GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
    val h = Tables.documents(s, d)
      .select(col("source"), col("doc_id"),
        md5(concat(lit("cap:"), col("doc_id").cast("string"))).as("hk"),
        size(split(col("text"), " ")).cast("long").as("n_toks"))
    val w = Window.partitionBy(col("source")).orderBy(col("hk"), col("doc_id"))
    val r = h.withColumn("rnk", row_number().over(w))
      .withColumn("n_src", count(lit(1)).over(Window.partitionBy(col("source"))))
    r.groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("rnk") <= SourceCap, 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("rnk") > SourceCap, 1L).otherwise(0L)).as("n_dropped"),
        sum(when(col("rnk") <= SourceCap, col("n_toks")).otherwise(0L)).as("kept_toks"),
        max(when(col("rnk") === least(lit(SourceCap), col("n_src").cast("int")),
          col("hk"))).as("cut_hash"))
      .orderBy(col("source"))
  }

  // ---------------------------------------------------------------- q186

  private val MaxEpochs = 4

  /** q186: the per-source epoch/upsampling recipe — integer repeat
    * factors per source (the LLaMA-style upsampling table) from an
    * exact-ppm lexical-diversity weight: d_ppm = half-up(distinct_toks·10⁶
    * / toks); repeats = 1 + (d_ppm·3) // max_ppm ∈ [1, 4] (the most
    * diverse source trains 4 epochs, the least ≥1). Everything is integer
    * algebra on a source-count-sized aggregate — both engines replay it
    * exactly — and the output is the per-source effective-token share a
    * mixture scheduler consumes. The diversity weight reuses q182's
    * distinct-unigram signal in q154's exact half-up ppm integers.
    */
  val epochRecipe = Q(
    "q186_epoch_recipe",
    s"""WITH t AS (
       |  SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents),
       |s AS (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_toks,
       |    CAST(COUNT(DISTINCT tok) AS BIGINT) AS d_toks
       |  FROM t GROUP BY source),
       |w AS (
       |  SELECT source, n_toks,
       |    CAST((2 * d_toks * 1000000 + n_toks) // (2 * n_toks) AS BIGINT) AS d_ppm
       |  FROM s),
       |m AS (SELECT MAX(d_ppm) AS max_ppm FROM w),
       |rec AS (
       |  SELECT source, n_toks, d_ppm,
       |    CAST(1 + (d_ppm * ${MaxEpochs - 1}) // max_ppm AS INTEGER) AS repeats
       |  FROM w CROSS JOIN m)
       |SELECT source, n_toks, d_ppm, repeats,
       |  CAST(n_toks * repeats AS BIGINT) AS eff_toks,
       |  CAST((2 * n_toks * repeats * 1000000 +
       |    (SELECT SUM(n_toks * repeats) FROM rec)) //
       |    (2 * (SELECT SUM(n_toks * repeats) FROM rec)) AS BIGINT) AS share_ppm
       |FROM rec ORDER BY source""".stripMargin) { (s, d) =>
    val agg = Tables.documents(s, d)
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_toks"), countDistinct(col("tok")).as("d_toks"))
      .select(col("source"), col("n_toks"),
        Det.halfUpDiv(col("d_toks") * 1000000L, col("n_toks")).as("d_ppm"))
    val m = agg.agg(max(col("d_ppm")).as("max_ppm"))
    val rec = agg.crossJoin(broadcast(m))
      .select(col("source"), col("n_toks"), col("d_ppm"),
        (lit(1) + expr(s"(d_ppm * ${MaxEpochs - 1}) div max_ppm")).cast("int")
          .as("repeats"))
      .withColumn("eff_toks", col("n_toks") * col("repeats"))
    val tot = rec.agg(sum(col("eff_toks")).as("tot_eff"))
    rec.crossJoin(broadcast(tot))
      .select(col("source"), col("n_toks"), col("d_ppm"), col("repeats"),
        col("eff_toks"),
        Det.halfUpDiv(col("eff_toks") * 1000000L, col("tot_eff")).as("share_ppm"))
      .orderBy(col("source"))
  }

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

  val specs: Seq[Q] = Seq(repetitionQuality, datasetSplit, sourceMixture,
    mixtureReweight, sourceOverlap, ksDrift, datasetCard,
    sourceOverlapSketch, lexicalDiversity, splitContamination, tokenBudget,
    adaptiveQualityGate, splitLeakageGuard, temperatureMixture,
    linearQualityClassifier, qualityWeightedSample, repetitionRules,
    curriculumBins, sourceCaps, epochRecipe, budgetSelection,
    lengthPercentiles, sourceBudgetFill, globalPercentiles)
}
