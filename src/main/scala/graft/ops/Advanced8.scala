package graft.ops

import graft.{Det, Q, Tables}
import graft.functions.{DotProduct, NGrams}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Fourth-round batch: warehouse change tracking (SCD2), event-stream
  * hygiene (windowed dedup, forward-fill imputation), and the corpus-
  * curation closers (epoch reweighting toward a target mixture, vocab
  * pruning, cross-source contamination matrix, text normalization,
  * winsorized robust stats).
  *
  * Scale notes: every query here is either a narrow projection, a
  * partial-agg'd groupBy, or a window partitioned by a high-cardinality
  * key (customer/user/doc). The one join on exploded data (q103) joins
  * DISTINCT gram hashes — the shuffle carries each source's vocabulary
  * once, and pair fan-out is bounded by the source count, not the corpus.
  */
object Advanced8 {

  /** SCD2 dimension build — collapse a per-customer order-status history
    * into validity intervals [eff_from, eff_to): keep only CHANGE rows
    * (status differs from the previous row), then close each interval
    * with the next change's date. The reference's dimension loads
    * (scripts/04) are type-1 overwrites; this is the type-2 upgrade a
    * real warehouse needs. Windows partition by customer — parallel over
    * 150k×SF keys, no global sort.
    */
  val scd2Intervals = Q(
    "q98_scd2_intervals",
    """WITH o AS (
      |  SELECT o_custkey, o_orderkey, o_orderdate, o_orderstatus,
      |    lag(o_orderstatus) OVER (PARTITION BY o_custkey
      |      ORDER BY o_orderdate, o_orderkey) AS prev_s
      |  FROM orders),
      |c AS (SELECT * FROM o WHERE prev_s IS NULL OR prev_s <> o_orderstatus)
      |SELECT o_custkey,
      |  CAST(ROW_NUMBER() OVER w AS INTEGER) AS version,
      |  o_orderstatus, o_orderdate AS eff_from,
      |  lead(o_orderdate) OVER w AS eff_to
      |FROM c
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_custkey, version""".stripMargin) { (s, d) =>
    val wAll = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val changes = Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"), col("o_orderstatus"))
      .withColumn("prev_s", lag(col("o_orderstatus"), 1).over(wAll))
      .filter(col("prev_s").isNull || col("prev_s") =!= col("o_orderstatus"))
    changes
      .withColumn("version", row_number().over(wAll))
      .withColumn("eff_to", lead(col("o_orderdate"), 1).over(wAll))
      .select(col("o_custkey"), col("version"), col("o_orderstatus"),
        col("o_orderdate").as("eff_from"), col("eff_to"))
      .orderBy(col("o_custkey"), col("version"))
  }

  /** Windowed deduplication — the bounded-state streaming-dedup shape in
    * batch form: within each 10-minute tumbling window, events of one
    * (user, type) collapse to their first occurrence (min event_id).
    * Pure two-level groupBy: both levels partial-aggregate map-side, and
    * at 100 TB the state is one row per live (user, type, window) — the
    * same bound `dropDuplicatesWithinWatermark` keeps in streaming.
    */
  val windowDedup = Q(
    "q99_window_dedup",
    """WITH b AS (
      |  SELECT user_id, event_type, event_id,
      |    epoch_ns(ts)//1000 // 600000000 AS win
      |  FROM events),
      |k AS (
      |  SELECT user_id, event_type, win, MIN(event_id) AS keep_id, COUNT(*) AS n
      |  FROM b GROUP BY 1, 2, 3)
      |SELECT user_id, event_type,
      |  COUNT(*) AS n_windows,
      |  CAST(SUM(n) AS BIGINT) AS n_events,
      |  CAST(SUM(n) - COUNT(*) AS BIGINT) AS n_dropped
      |FROM k GROUP BY user_id, event_type
      |ORDER BY user_id, event_type""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
    ev.select(col("user_id"), col("event_type"), col("event_id"),
        Tables.tsUs(ev).as("ts_us"))
      .select(col("user_id"), col("event_type"), col("event_id"),
        expr("ts_us DIV 600000000").as("win"))
      .groupBy(col("user_id"), col("event_type"), col("win"))
      .agg(min(col("event_id")).as("keep_id"), count(lit(1)).as("n"))
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n_windows"),
        sum(col("n")).as("n_events"),
        (sum(col("n")) - count(lit(1))).as("n_dropped"))
      .orderBy(col("user_id"), col("event_type"))
  }

  /** Forward-fill imputation — carry the last observed measurement over
    * gaps (here: 'error' events carry no measurement) per user in event
    * order: `last(_, ignoreNulls)` over a running frame. The window
    * partitions by user, so fill state never crosses keys and the sort
    * parallelizes; the canonical telemetry-backfill shape.
    */
  val forwardFill = Q(
    "q100_forward_fill",
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_ns(ts)//1000 AS ts_us,
      |    CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v
      |  FROM events),
      |f AS (
      |  SELECT user_id, event_id, v,
      |    last_value(v IGNORE NULLS) OVER (PARTITION BY user_id
      |      ORDER BY ts_us, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled
      |  FROM e)
      |SELECT user_id,
      |  CAST(COUNT(*) FILTER (WHERE v IS NULL) AS BIGINT) AS n_missing,
      |  CAST(COUNT(*) FILTER (WHERE v IS NULL AND v_filled IS NOT NULL) AS BIGINT) AS n_filled,
      |  CAST(SUM(CAST(ROUND(v_filled * 100) AS BIGINT)) AS BIGINT) AS filled_cents
      |FROM f GROUP BY user_id
      |ORDER BY user_id""".stripMargin) { (s, d) =>
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ev = Tables.events(s, d)
    ev.select(col("user_id"), col("event_id"), Tables.tsUs(ev).as("ts_us"),
        when(col("event_type") === "error", lit(null)).otherwise(col("value")).as("v"))
      .withColumn("v_filled", last(col("v"), ignoreNulls = true).over(w))
      .groupBy(col("user_id"))
      .agg(
        count(when(col("v").isNull, 1)).as("n_missing"),
        count(when(col("v").isNull && col("v_filled").isNotNull, 1)).as("n_filled"),
        sum(round(col("v_filled") * 100).cast("long")).as("filled_cents"))
      .orderBy(col("user_id"))
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

  /** Vocabulary pruning — drop tokens appearing in fewer than 5 documents
    * and report what survives: vocab size kept/total and the occurrence
    * coverage of the kept vocab. Two-level aggregate; the shuffle carries
    * (token, doc) keys once and token stats once — never raw instances.
    */
  val vocabPrune = Q(
    "q102_vocab_prune",
    """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      |c AS (SELECT tok, COUNT(*) AS n_occ, COUNT(DISTINCT doc_id) AS df FROM t GROUP BY tok)
      |SELECT
      |  CAST(COUNT(*) FILTER (WHERE df >= 5) AS BIGINT) AS vocab_kept,
      |  CAST(COUNT(*) AS BIGINT) AS vocab_total,
      |  CAST(COALESCE(SUM(n_occ) FILTER (WHERE df >= 5), 0) AS BIGINT) AS occ_kept,
      |  CAST(SUM(n_occ) AS BIGINT) AS occ_total,
      |  (2 * CAST(COALESCE(SUM(n_occ) FILTER (WHERE df >= 5), 0) AS BIGINT) * 1000000
      |     + CAST(SUM(n_occ) AS BIGINT))
      |    // (2 * CAST(SUM(n_occ) AS BIGINT)) / 10000.0 AS coverage_pct
      |FROM c""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("n_occ"), countDistinct(col("doc_id")).as("df"))
      .agg(
        count(when(col("df") >= 5, 1)).as("vocab_kept"),
        count(lit(1)).as("vocab_total"),
        sum(when(col("df") >= 5, col("n_occ")).otherwise(0L)).as("occ_kept"),
        sum(col("n_occ")).as("occ_total"))
      .select(col("vocab_kept"), col("vocab_total"), col("occ_kept"), col("occ_total"),
        (Det.halfUpDiv(col("occ_kept") * 1000000, col("occ_total")) / 10000.0)
          .as("coverage_pct"))
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
    val g = Tables.documents(s, d)
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 3)
      .select(col("source"), explode(NGrams.ngrams(col("toks"), 3)).as("gr"))
      .select(col("source"),
        expr("CAST(conv(substr(md5(gr), 1, 15), 16, 10) AS BIGINT)").as("gh"))
      .distinct()
      .localCheckpoint()
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

  /** Text normalization — the standard pre-tokenization cleanup (lower,
    * strip non-alphanumerics, squish whitespace) plus a stopword count,
    * reported as a per-doc content hash + shrink stats. Pure narrow
    * projection feeding one partial-agg'd groupBy(doc).
    */
  val textNormalize = Q(
    "q104_text_normalize",
    """WITH n AS (
      |  SELECT doc_id,
      |    trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]+', '', 'g'),
      |      ' +', ' ', 'g')) AS norm
      |  FROM documents),
      |t AS (SELECT doc_id, unnest(string_split(norm, ' ')) AS tok FROM n),
      |c AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_toks,
      |    CAST(COUNT(*) FILTER (WHERE tok IN ('the','a','of','and','to','in','is'))
      |      AS BIGINT) AS n_stop
      |  FROM t GROUP BY doc_id)
      |SELECT n.doc_id, md5(n.norm) AS norm_hash, c.n_toks, c.n_stop
      |FROM n JOIN c USING (doc_id)
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val stop = Seq("the", "a", "of", "and", "to", "in", "is")
    val n = Tables.documents(s, d)
      .select(col("doc_id"),
        trim(regexp_replace(regexp_replace(lower(col("text")), "[^a-z0-9 ]+", ""),
          " +", " ")).as("norm"))
    n.select(col("doc_id"), md5(col("norm")).as("norm_hash"),
        explode(split(col("norm"), " ")).as("tok"))
      .groupBy(col("doc_id"), col("norm_hash"))
      .agg(count(lit(1)).as("n_toks"),
        count(when(col("tok").isin(stop: _*), 1)).as("n_stop"))
      .select(col("doc_id"), col("norm_hash"), col("n_toks"), col("n_stop"))
      .orderBy(col("doc_id"))
  }

  /** Winsorized robust statistics — clip values at the per-type rounded
    * p05/p95 and report clip counts + the winsorized mean (exact-cents
    * [[Det.halfUpDiv]] average). Thresholds round to 4 decimals BEFORE
    * clipping so the clip decision is an exact double compare in both
    * engines (raw interpolated percentiles can differ in the last ulp).
    * The 5-row threshold table broadcasts; the fact side never shuffles
    * before its aggregate.
    */
  val winsorize = Q(
    "q105_winsorize",
    """WITH q AS (
      |  SELECT event_type,
      |    ROUND(quantile_cont(value, 0.05), 4) AS lo,
      |    ROUND(quantile_cont(value, 0.95), 4) AS hi
      |  FROM events GROUP BY event_type)
      |SELECT e.event_type,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(COUNT(*) FILTER (WHERE value < lo) AS BIGINT) AS n_lo,
      |  CAST(COUNT(*) FILTER (WHERE value > hi) AS BIGINT) AS n_hi,
      |  lo, hi,
      |  (2 * CAST(SUM(CAST(ROUND(LEAST(GREATEST(value, lo), hi) * 100) AS BIGINT)) AS BIGINT)
      |     + COUNT(*)) // (2 * COUNT(*)) / 100.0 AS winsor_mean
      |FROM events e JOIN q USING (event_type)
      |GROUP BY e.event_type, lo, hi
      |ORDER BY event_type""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d).select(col("event_type"), col("value"))
    val q = ev.groupBy(col("event_type"))
      .agg(round(expr("percentile(value, 0.05)"), 4).as("lo"),
        round(expr("percentile(value, 0.95)"), 4).as("hi"))
    val clipped = least(greatest(col("value"), col("lo")), col("hi"))
    ev.join(broadcast(q), Seq("event_type"))
      .groupBy(col("event_type"), col("lo"), col("hi"))
      .agg(
        count(lit(1)).as("n"),
        count(when(col("value") < col("lo"), 1)).as("n_lo"),
        count(when(col("value") > col("hi"), 1)).as("n_hi"),
        sum(round(clipped * 100).cast("long")).as("clip_cents"))
      .select(col("event_type"), col("n"), col("n_lo"), col("n_hi"),
        col("lo"), col("hi"),
        (Det.halfUpDiv(col("clip_cents"), col("n")) / 100.0).as("winsor_mean"))
      .orderBy(col("event_type"))
  }

  /** BPE-style regex pre-tokenization counts — the GPT-2 pre-tokenizer
    * shape (space-attached letter runs / digit runs / punctuation runs)
    * reduced to this corpus's lowercase-ascii alphabet, vs the naive
    * whitespace count. Pure narrow projection (regex runs per document,
    * codegen'd `regexp_extract_all`); the true-BPE refinement slots in as
    * a vocab broadcast + greedy merge without changing the plan shape.
    */
  val bpePretokenize = Q(
    "q106_bpe_pretokenize",
    """SELECT doc_id,
      |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
      |  CAST(len(regexp_extract_all(text, ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+'))
      |    AS BIGINT) AS n_pretokens,
      |  CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_digit_runs,
      |  CAST(ceil(len(text) / 4.0) AS BIGINT) AS est_subwords
      |FROM documents
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_ws_tokens"),
        size(regexp_extract_all(col("text"),
          lit(" ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+"), lit(0))).cast("long").as("n_pretokens"),
        size(regexp_extract_all(col("text"), lit("[0-9]+"), lit(0)))
          .cast("long").as("n_digit_runs"),
        ceil(length(col("text")) / 4.0).cast("long").as("est_subwords"))
      .orderBy(col("doc_id"))
  }

  /** Count-min-sketch heavy hitters — the mergeable-sketch counting path
    * (spark-sketch's CountMinSketch via `df.stat`): each partition builds
    * a fixed-size sketch, sketches merge associatively (the 100 TB shape:
    * no groupBy shuffle of raw keys, sketch size is independent of both
    * cardinality and row count), and the driver reads off estimates for
    * the dimension-sized key set. With eps=1e-4 the 5-key domain cannot
    * collide, so the estimates EQUAL the exact counts and the exact
    * GROUP BY is a true oracle — the same estimate==exact trick as q49's
    * IVF recall check. Seeded, so the sketch is deterministic.
    */
  val cmsHeavyHitters = Q(
    "q107_cms_heavyhitters",
    """SELECT event_type, COUNT(*) AS est_count
      |FROM events GROUP BY event_type
      |ORDER BY event_type""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
    val cms = ev.stat.countMinSketch(col("event_type"), 1e-4, 0.999, 42)
    // The key read-out is dimension-sized (event taxonomy), not data-sized.
    val types = ev.select(col("event_type")).distinct()
      .collect().map(_.getString(0)).toSeq.sorted
    import s.implicits._
    types.map(t => (t, cms.estimateCount(t))).toDF("event_type", "est_count")
      .orderBy(col("event_type"))
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

  private def embV(s: SparkSession, d: String): DataFrame = {
    Tables.embeddings(s, d).select(col("vec_id"),
      graft.functions.VectorFunctions.asDouble(col("embedding")).as("v"))
  }

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
      val sub = Quantizer.subBlocks(embV(s, d))
      sub.join(broadcast(Quantizer.pqCodebook(s, d)), Seq("b"))
        .select(col("vec_id"), col("b"),
          (distMicro(col("sv"), col("cv")) * 100 + col("cid")).as("pk"))
        .groupBy(col("vec_id"), col("b"))
        .agg(min(col("pk")).as("mk"))
    }

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
    val dtab = Quantizer.subBlocks(embV(s, d)).filter(col("vec_id") < 5)
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
    val aff = Advanced2.ivfAffinity(s, d)
    val assigned = aff.filter(col("crank") === 1).select(col("vec_id"), col("c_id"))
    val probes = aff.filter(col("crank") <= 2 && col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("c_id").as("probe_c_id"))
    val candp = broadcast(probes)
      .join(assigned.as("a"),
        col("probe_c_id") === col("a.c_id") && col("a.vec_id") =!= col("qid"))
      .select(col("qid"), col("a.vec_id").as("cand")).distinct()
    val codes = pqAssign(s, d)
      .select(col("vec_id"), col("b"), (col("mk") % 100).cast("int").as("code"))
    val dtab = Quantizer.subBlocks(embV(s, d)).filter(col("vec_id") < 5)
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
    val e = embV(s, d)
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

  /** Fuzzy join via SYMMETRIC-DELETE blocking (the SymSpell shape):
    * match a probe list against customer names at Levenshtein distance
    * ≤ 1 WITHOUT the O(n·m) cross join — both sides explode into their
    * deletion neighborhoods (`graft_deletions`: the string + every
    * 1-char deletion), the equi-join on neighborhood keys finds every
    * qualifying pair (blocking is EXACT for distance ≤ 1 — see the
    * expression's scaladoc), and the cheap levenshtein verify runs only
    * on blocked candidates. The oracle is the naive cross join, proving
    * blocked ≡ naive. Probes derive deterministically from the data
    * (every 97th customer's name with its 2nd char dropped).
    */
  val fuzzyJoin = Q(
    "q110_fuzzy_join",
    """WITH probes AS (
      |  SELECT DISTINCT substr(c_name, 1, 1) || substr(c_name, 3, 1000) AS probe
      |  FROM customer WHERE c_custkey % 97 = 0)
      |SELECT p.probe, c.c_custkey, c.c_name,
      |  CAST(levenshtein(c.c_name, p.probe) AS INTEGER) AS dist
      |FROM customer c CROSS JOIN probes p
      |WHERE levenshtein(c.c_name, p.probe) <= 1
      |ORDER BY probe, c_custkey""".stripMargin) { (s, d) =>
    val cust = Tables.customer(s, d).select(col("c_custkey"), col("c_name"))
    val probes = cust.filter(pmod(col("c_custkey"), lit(97)) === 0)
      .select(concat(substring(col("c_name"), 1, 1), substring(col("c_name"), 3, 1000))
        .as("probe"))
      .distinct()
    val custKeys = cust.select(col("c_custkey"), col("c_name"),
      explode(graft.functions.Deletions.deletions(col("c_name"))).as("k"))
    val probeKeys = probes.select(col("probe"),
      explode(graft.functions.Deletions.deletions(col("probe"))).as("k"))
    custKeys.join(probeKeys, Seq("k"))
      .select(col("probe"), col("c_custkey"), col("c_name"))
      .distinct() // a pair can collide on several deletion keys
      .filter(levenshtein(col("c_name"), col("probe")) <= 1)
      .select(col("probe"), col("c_custkey"), col("c_name"),
        levenshtein(col("c_name"), col("probe")).cast("int").as("dist"))
      .orderBy(col("probe"), col("c_custkey"))
  }

  /** CDC merge/upsert — the incremental-warehouse shape the reference's
    * overwrite loads lack: a change batch (updates to existing keys +
    * brand-new keys, derived deterministically from the data) merges
    * into the base via ONE full-outer join on the key; each output row
    * classifies as update / insert / keep. At scale this is a single
    * co-partitioned shuffle join — and zero-exchange when base and batch
    * share bucketing (the PlanSpec bucketed-join property); a lakehouse
    * MERGE INTO plans the identical join under the hood.
    */
  val mergeUpsert = Q(
    "q112_merge_upsert",
    """WITH batch AS (
      |  SELECT o_orderkey, o_totalprice + 1000.0 AS o_totalprice
      |  FROM orders WHERE o_orderkey % 100 = 0
      |  UNION ALL
      |  SELECT o_orderkey + 2000000000, o_totalprice
      |  FROM orders WHERE o_orderkey % 100 = 0),
      |merged AS (
      |  SELECT COALESCE(b.o_orderkey, o.o_orderkey) AS o_orderkey,
      |    COALESCE(b.o_totalprice, o.o_totalprice) AS price,
      |    CASE WHEN b.o_orderkey IS NULL THEN 'keep'
      |         WHEN o.o_orderkey IS NULL THEN 'insert'
      |         ELSE 'update' END AS action
      |  FROM orders o FULL OUTER JOIN batch b ON o.o_orderkey = b.o_orderkey)
      |SELECT action, COUNT(*) AS n_rows,
      |  CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM merged GROUP BY action
      |ORDER BY action""".stripMargin) { (s, d) =>
    val base = Tables.orders(s, d).select(col("o_orderkey"), col("o_totalprice"))
    val changed = base.filter(pmod(col("o_orderkey"), lit(100)) === 0)
    val batch = changed
      .select(col("o_orderkey"), (col("o_totalprice") + 1000.0).as("o_totalprice"))
      .union(changed.select((col("o_orderkey") + 2000000000L).as("o_orderkey"),
        col("o_totalprice")))
    base.as("o").join(batch.as("b"),
        col("o.o_orderkey") === col("b.o_orderkey"), "full_outer")
      .select(
        coalesce(col("b.o_totalprice"), col("o.o_totalprice")).as("price"),
        when(col("b.o_orderkey").isNull, "keep")
          .when(col("o.o_orderkey").isNull, "insert")
          .otherwise("update").as("action"))
      .groupBy(col("action"))
      .agg(count(lit(1)).as("n_rows"), Det.dsum(col("price")).as("total_value"))
      .orderBy(col("action"))
  }

  def specs: Seq[Q] = Seq(scd2Intervals, windowDedup, forwardFill,
    mixtureReweight, vocabPrune, sourceOverlap, textNormalize, winsorize,
    bpePretokenize, cmsHeavyHitters, pqEncode, pqAdcSearch, ivfAdcSearch,
    ivfAdcRerank, fuzzyJoin, mergeUpsert)
}
