package graft.ops

import graft.{Det, Q, Tables}
import graft.functions.NGrams
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis + deduplication family over `documents` — the
  * training-data-pipeline operators (beyond the reference's surface, per
  * the north-star brief): exact dedup, n-gram Jaccard near-dup,
  * MinHash+LSH, SimHash, language stats/ID, quality scoring, token
  * statistics, document fingerprinting.
  *
  * Hashing strategy: every hash-based operator derives its hash from
  * `md5(...)` hex prefixes cast to int64 — computable identically in
  * Spark (`conv(substr(md5(x),1,15),16,10)`) and DuckDB
  * (`('0x'||substr(md5(x),1,15))::BIGINT`), which makes even MinHash and
  * SimHash fully oracle-checkable. At 100 TB one would swap in
  * `xxhash64` (one instruction vs a crypto hash) — the pipeline shape is
  * unchanged.
  *
  * Scale notes: SimHash and fingerprints are computed inside one narrow
  * projection per document; MinHash explodes shingles into a flat
  * codegen'd hash projection and partial-aggregates back to 16 longs per
  * document before any shuffle (see q32's doc). The only O(pairs) work is
  * confined to LSH band buckets (and, for the exact-Jaccard oracle query,
  * an explicit doc_id bound).
  */
object TextOps {

  /** doc → space tokens, as a named column `toks`. */
  private[ops] def withToks(df: DataFrame): DataFrame =
    df.withColumn("toks", split(col("text"), " "))

  /** Exact deduplication: content-hash groups with a deterministic
    * representative (min doc_id) — the hash-groupBy exact-dedup shape.
    */
  val dedupExact = Q(
    "q30_dedup_exact",
    """SELECT md5(text) AS content_hash,
      |  MIN(doc_id) AS rep_doc_id, COUNT(*) AS n_copies
      |FROM documents
      |GROUP BY md5(text)
      |ORDER BY content_hash""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(min(col("doc_id")).as("rep_doc_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("content_hash"))
  }

  /** Exact n-gram (2-token shingle) Jaccard near-dup pairs, bounded to
    * doc_id < 100 (the exact-pairwise oracle path; the scale path is
    * q32's MinHash+LSH).
    */
  val ngramJaccard = Q(
    "q31_dedup_ngram_jaccard",
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
      |  WHERE doc_id < 100 AND len(string_split(text, ' ')) >= 2),
      |sh AS (
      |  SELECT doc_id, unnest(list_distinct(
      |    list_transform(range(1, len(t)), i -> array_to_string(t[i:i+1], ' ')))) AS shingle
      |  FROM toks),
      |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS n_common
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY a.doc_id, b.doc_id)
      |SELECT da, db, n_common,
      |  ROUND(n_common * 1.0 / (sa.n + sb.n - n_common), 6) AS jaccard
      |FROM inter JOIN sizes sa ON sa.doc_id = da JOIN sizes sb ON sb.doc_id = db
      |WHERE n_common * 1.0 / (sa.n + sb.n - n_common) >= 0.1
      |ORDER BY da, db""".stripMargin) { (s, d) =>
    val sh = withToks(Tables.documents(s, d).filter(col("doc_id") < 100))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"),
        explode(array_distinct(NGrams.ngrams(col("toks"), 2))).as("shingle"))
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val a = sh.as("a"); val b = sh.as("b")
    val inter = a.join(b,
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(count(lit(1)).as("n_common"))
    val sa = sizes.as("sa"); val sb = sizes.as("sb")
    inter
      .join(sa, col("da") === col("sa.doc_id"))
      .join(sb, col("db") === col("sb.doc_id"))
      .withColumn("jaccard_raw",
        col("n_common") * 1.0 / (col("sa.n") + col("sb.n") - col("n_common")))
      .filter(col("jaccard_raw") >= 0.1)
      .select(col("da"), col("db"), col("n_common"),
        round(col("jaccard_raw"), 6).as("jaccard"))
      .orderBy(col("da"), col("db"))
  }

  /** MinHash + LSH near-dup candidates, end to end: distinct 3-token
    * shingles → explode → ONE md5 per shingle in a codegen'd projection →
    * groupBy(doc_id) with 16 `min` aggregates (the 16 minhash permutations
    * are affine transforms of the one hash, folded map-side) → 8 LSH bands
    * of 2 signature values → band self-join on the raw ints → candidate
    * pairs with estimated Jaccard (matching-signature fraction).
    *
    * Shape chosen for scale: the per-shingle work is a flat codegen'd
    * projection (no interpreted higher-order lambdas in the hot path),
    * and partial aggregation shrinks each document to 16 longs BEFORE the
    * shuffle — at 100 TB the shuffle carries signatures, not shingles.
    * The band join is the only pairwise work: O(collisions), not O(n²).
    */
  /** MinHash signatures (doc_id, sig: array of 16 longs) for an arbitrary
    * `docs(doc_id, text)` frame — the ONE signature definition (3-token
    * shingles → 28-bit md5-prefix hash → 16 affine-permutation mins)
    * shared by the registered q32/q57 family and the persisted
    * [[DedupIndex]], so an index built yesterday and a batch signed today
    * can never disagree on the hash recipe. Per-shingle work is a flat
    * codegen'd projection; partial aggregation shrinks each document to
    * 16 longs BEFORE the shuffle.
    */
  private[ops] def sigsOf(docs: DataFrame): DataFrame = {
    // spread a skinny (single-file-scan / checkpoint) input before the
    // per-shingle md5 work — round 19, guide §2.5 input skew; no-op on
    // already-parallel or exchange-bearing inputs
    val shingleRows = withToks(graft.Spread.lazyAuto(docs))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"),
        explode(array_distinct(NGrams.ngrams(col("toks"), 3))).as("s"))
    val hashed = shingleRows.select(col("doc_id"),
      expr("CAST(conv(substr(md5(s), 1, 7), 16, 10) AS BIGINT)").as("v"))
    val minCols = (0 until 16).map { j =>
      min((col("v") * lit(1000003L * j + 12345L) + lit(777767L * j + 1L)) % 2147483647L)
        .as(s"s$j")
    }
    hashed.groupBy(col("doc_id"))
      .agg(minCols.head, minCols.tail: _*)
      .select(col("doc_id"), array((0 until 16).map(j => col(s"s$j")): _*).as("sig"))
  }

  /** The 8 two-value LSH bands of a signature table, flattened to
    * (doc_id, b, s1, s2) — literal band indices in an array-of-structs
    * posexplode (fully codegen'd; no interpreted
    * `transform(sequence(...))` lambda in the hot path). Shared by the
    * live candidate join and [[DedupIndex]]'s persisted band table.
    */
  private[ops] def bandsOf(sigs: DataFrame): DataFrame = {
    val bandStructs = array(bandValues.map { case (s1, s2) =>
      struct(s1.as("s1"), s2.as("s2")) }: _*)
    sigs.select(col("doc_id"), posexplode(bandStructs).as(Seq("b", "bs")))
      .select(col("doc_id"), col("b"), col("bs.s1").as("s1"), col("bs.s2").as("s2"))
  }

  /** Band `b`'s two signature values, (s1, s2), for b = 0 until 8 over
    * a `sig` column — the band structure [[bandsOf]] flattens, for a
    * caller that needs a per-band value on the signature row itself.
    */
  private[ops] val bandValues: Seq[(Column, Column)] = (0 until 8).map(b =>
    (element_at(col("sig"), 2 * b + 1), element_at(col("sig"), 2 * b + 2)))

  /** MinHash signature table (doc_id, sig: array of 16 longs), shared by
    * q32 (candidate report) and q57 (cluster resolution) via [[graft.Shared]].
    */
  def minhashSigs(s: SparkSession, d: String): DataFrame =
    graft.Shared.materialized(s, s"minhash-sigs@$d") {
      sigsOf(Tables.documents(s, d))
    }

  /** LSH candidate pairs (da < db) from the shared signature table: 8
    * bands of 2 signature values, self-join per band. Shared by q32/q57.
    */
  def minhashCandidates(s: SparkSession, d: String): DataFrame =
    graft.Shared.materialized(s, s"minhash-cand@$d") {
      // STAGED build (round 16, the 100× labels-build memory knee): the
      // band table feeds three consumers (the cap's pass 1 and both
      // self-join sides) — checkpoint it once, materialize the DISTINCT
      // pair set eagerly, then RELEASE the band blocks before returning;
      // Shared stores the returned checkpoint as-is. At a duplicate-
      // heavy 100× corpus the pair set alone is ~25M rows — the band
      // table must not stay resident next to it through the CC build.
      val bands = bandsOf(minhashSigs(s, d)).localCheckpoint(true)
      // hot-bucket guard: a degenerate band signature (boilerplate
      // template shared corpus-wide) would make this self-join quadratic
      // inside its bucket — cap membership, with observed drop counts
      val capped = LshGuard.capBuckets(s, bands, Seq("b", "s1", "s2"),
        "doc_id", tag = "minhash")
      val pairs = capped.as("a")
        .join(capped.as("b"),
          col("a.b") === col("b.b") && col("a.s1") === col("b.s1") &&
            col("a.s2") === col("b.s2") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
        .distinct()
        .localCheckpoint(true)
      graft.Reliable.release(bands)
      pairs
    }

  /** Estimated Jaccard of the joined signatures `sa.sig` and `sb.sig`:
    * the share of their 16 positions that agree, rounded to 6 decimals.
    * A flat sum of 16 element_at comparisons stays inside whole-stage
    * codegen; the aggregate(zip_with(...)) form runs interpreted per row
    * in Spark 4.1 (lambda HOFs have no doGenCode).
    */
  private[ops] val estJaccard: Column = round((1 to 16).map { i =>
    when(element_at(col("sa.sig"), i) === element_at(col("sb.sig"), i), 1).otherwise(0)
  }.reduce(_ + _) / lit(16.0), 6)

  /** Shared DuckDB oracle preamble — the MinHash/LSH subtree (toks →
    * distinct 3-gram shingles → 28-bit md5-prefix hash → 16-min
    * signature → 8 two-row bands), hash constants inlined. Every oracle
    * that recomputes the candidate graph (q32/q57/q69/q76/q111/q114/
    * q119) appends its tail CTEs to this ONE string, so an edit to the
    * shingle width, hash constants, or band structure cannot
    * desynchronize one copy from the shared Spark base
    * ([[minhashSigs]]/[[minhashCandidates]]). `recursive` = the tail
    * uses a recursive CTE (DuckDB requires RECURSIVE on the WITH).
    * `src` re-points the preamble at a caller-supplied doc CTE and
    * `pre` injects those CTE definitions ahead of it (the release-
    * upgrade oracle signs a versioned corpus, not raw `documents`).
    */
  private[ops] def lshOracleSql(recursive: Boolean = false,
      src: String = "documents", pre: String = ""): String =
    ("WITH " + (if (recursive) "RECURSIVE " else "") + pre +
      s"""toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM $src
      |  WHERE len(string_split(text, ' ')) >= 3),""".stripMargin + "\n" +
      """
      |hs AS (
      |  SELECT doc_id, unnest(list_distinct(
      |    list_transform(range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' ')))) AS s
      |  FROM toks),
      |h AS (SELECT doc_id, ('0x' || substr(md5(s), 1, 7))::BIGINT AS v FROM hs),
      |sigs AS (
      |  SELECT doc_id, [MINHASH_MINS] AS sig
      |  FROM h GROUP BY doc_id),
      |bands AS (
      |  SELECT doc_id, b, sig[2*b+1] AS s1, sig[2*b+2] AS s2
      |  FROM sigs, (SELECT unnest(range(0, 8)) AS b)),
      |BCAP_CTE""".stripMargin)
      .replace("BCAP_CTE", LshGuard.capCteSql("bcap", "bands",
        Seq("doc_id", "b", "s1", "s2"), Seq("b", "s1", "s2"), "doc_id"))
      .replace("MINHASH_MINS",
        (0 until 16).map(j =>
          s"MIN((v * ${1000003L * j + 12345L} + ${777767L * j + 1L}) % 2147483647)")
          .mkString(", "))

  /** The LSH preamble extended with candidate edges and recursive
    * connected-component resolution — ONE definition of the cluster
    * oracle (`cl(node, cluster)`, cluster = min doc_id reachable) shared
    * by every component-consuming oracle (q57 report, q76 purge, q132
    * keep-best), so the component semantics can't drift between copies.
    * Mirrors [[graft.ops.DedupClusters.connectedComponents]].
    */
  private[ops] def ccOracleSql: String =
    lshOracleSql(recursive = true) +
      """,
      |edges AS (
      |  SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
      |  FROM bcap a JOIN bcap b
      |    ON a.b = b.b AND a.s1 = b.s1 AND a.s2 = b.s2 AND a.doc_id < b.doc_id),
      |sym AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
      |reach AS (
      |  SELECT src AS node, dst AS reached FROM sym
      |  UNION
      |  SELECT r.node, s.dst FROM reach r JOIN sym s ON r.reached = s.src),
      |cl AS (SELECT node, LEAST(node, MIN(reached)) AS cluster FROM reach GROUP BY node)""".stripMargin

  val minhashLsh = Q(
    "q32_dedup_minhash_lsh",
    (lshOracleSql() +
      """,
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
      |  FROM bcap a JOIN bcap b
      |    ON a.b = b.b AND a.s1 = b.s1 AND a.s2 = b.s2 AND a.doc_id < b.doc_id)
      |SELECT da, db,
      |  ROUND(list_sum(list_transform(range(1, 17),
      |    i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END)) / 16.0, 6) AS est_jaccard
      |FROM cand
      |JOIN sigs sa ON sa.doc_id = da
      |JOIN sigs sb ON sb.doc_id = db
      |ORDER BY da, db""").stripMargin) { (s, d) =>
    // The signature table feeds four plan branches (both band-join sides
    // + the two est-jaccard joins); it is materialized once in the shared
    // cache instead of recomputed per branch — ~16 longs per doc, so at
    // 100 TB of documents this is gigabytes, not terabytes.
    val sigs = minhashSigs(s, d)
    val cand = minhashCandidates(s, d)
    cand
      .join(sigs.as("sa"), col("da") === col("sa.doc_id"))
      .join(sigs.as("sb"), col("db") === col("sb.doc_id"))
      .select(col("da"), col("db"),
        estJaccard.as("est_jaccard"))
      .orderBy(col("da"), col("db"))
  }

  /** 32-bit SimHash over distinct tokens: per-bit majority vote of
    * md5-derived token hashes via the native [[graft.functions.SimHash60]]
    * expression (bits = 32) — one codegen'd call per document, no
    * interpreted lambdas.
    */
  val simhash = Q(
    "q33_dedup_simhash",
    """WITH hs AS (
      |  SELECT doc_id, list_transform(list_distinct(string_split(text, ' ')),
      |    x -> ('0x' || substr(md5(x), 1, 8))::BIGINT) AS h
      |  FROM documents),
      |sim AS (
      |  SELECT doc_id, CAST(list_sum(list_transform(range(0, 32), b ->
      |    CASE WHEN list_sum(list_transform(h, v ->
      |           CASE WHEN ((v >> b) & 1) = 1 THEN 1 ELSE -1 END)) > 0
      |         THEN (1::BIGINT << b) ELSE 0 END)) AS BIGINT) AS simhash
      |  FROM hs)
      |SELECT doc_id, simhash, CAST(simhash >> 24 AS INTEGER) AS bucket
      |FROM sim
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"),
        graft.functions.SimHash60
          .simhash60(array_distinct(split(col("text"), " ")), bits = 32)
          .as("simhash"))
      .withColumn("bucket", expr("CAST(shiftright(simhash, 24) AS INT)"))
      .orderBy(col("doc_id"))
  }

  /** Per-language corpus stats. */
  val langStats = Q(
    "q36_lang_stats",
    """SELECT lang, COUNT(*) AS n_docs,
      |  (2 * SUM(n_chars) * 10000 + COUNT(*)) // (2 * COUNT(*)) / 10000.0 AS avg_chars,
      |  (2 * SUM(len(string_split(text, ' '))) * 10000 + COUNT(*)) // (2 * COUNT(*)) / 10000.0 AS avg_tokens,
      |  COUNT(DISTINCT source) AS n_sources
      |FROM documents
      |GROUP BY lang
      |ORDER BY lang""".stripMargin) { (s, d) =>
    withToks(Tables.documents(s, d))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        sum(size(col("toks"))).as("sum_toks"),
        countDistinct(col("source")).as("n_sources"))
      .select(col("lang"), col("n_docs"),
        (Det.halfUpDiv(col("sum_chars") * 10000, col("n_docs")) / 10000.0).as("avg_chars"),
        (Det.halfUpDiv(col("sum_toks") * 10000, col("n_docs")) / 10000.0).as("avg_tokens"),
        col("n_sources"))
      .orderBy(col("lang"))
  }

  /** Stopword-list language-ID heuristic: score = stopword hits per
    * language, argmax with a deterministic tie-break chain.
    */
  val langId = Q(
    "q37_lang_id",
    """WITH scored AS (
      |  SELECT doc_id, lang,
      |    CAST(len(list_filter(string_split(text, ' '), x -> x IN ('the','of','and','a','to'))) AS INTEGER) AS sc_en,
      |    CAST(len(list_filter(string_split(text, ' '), x -> x IN ('el','la','de','los','y'))) AS INTEGER)  AS sc_es,
      |    CAST(len(list_filter(string_split(text, ' '), x -> x IN ('le','la','de','les','et'))) AS INTEGER) AS sc_fr,
      |    CAST(len(list_filter(string_split(text, ' '), x -> x IN ('der','die','das','und','zu'))) AS INTEGER) AS sc_de
      |  FROM documents)
      |SELECT doc_id, lang, sc_en, sc_es, sc_fr, sc_de,
      |  CASE WHEN sc_en = 0 AND sc_es = 0 AND sc_fr = 0 AND sc_de = 0 THEN 'unknown'
      |       WHEN sc_en >= sc_es AND sc_en >= sc_fr AND sc_en >= sc_de THEN 'en'
      |       WHEN sc_es >= sc_fr AND sc_es >= sc_de THEN 'es'
      |       WHEN sc_fr >= sc_de THEN 'fr'
      |       ELSE 'de' END AS pred_lang
      |FROM scored
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    def score(words: String) =
      expr(s"size(filter(split(text, ' '), x -> x IN ($words)))")
    val scored = Tables.documents(s, d).select(
      col("doc_id"), col("lang"),
      score("'the','of','and','a','to'").as("sc_en"),
      score("'el','la','de','los','y'").as("sc_es"),
      score("'le','la','de','les','et'").as("sc_fr"),
      score("'der','die','das','und','zu'").as("sc_de"))
    scored.withColumn("pred_lang",
        when(col("sc_en") === 0 && col("sc_es") === 0 && col("sc_fr") === 0 && col("sc_de") === 0, "unknown")
          .when(col("sc_en") >= col("sc_es") && col("sc_en") >= col("sc_fr") && col("sc_en") >= col("sc_de"), "en")
          .when(col("sc_es") >= col("sc_fr") && col("sc_es") >= col("sc_de"), "es")
          .when(col("sc_fr") >= col("sc_de"), "fr")
          .otherwise("de"))
      .orderBy(col("doc_id"))
  }

  /** Heuristic document quality score: token counts, type-token ratio,
    * stopword ratio, average token length, banded verdict.
    */
  val qualityScore = Q(
    "q38_quality_score",
    """WITH f AS (
      |  SELECT doc_id, n_chars,
      |    CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
      |    CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER) AS n_distinct,
      |    len(list_filter(string_split(text, ' '),
      |        x -> x IN ('the','a','of','and','to','in','is'))) AS n_stop,
      |    CAST(ceil(n_chars / 4.0) AS BIGINT) AS est_bpe_tokens
      |  FROM documents)
      |SELECT doc_id, n_tokens, n_distinct, est_bpe_tokens,
      |  ROUND(n_distinct * 1.0 / n_tokens, 6) AS ttr,
      |  ROUND(n_stop * 1.0 / n_tokens, 6) AS stop_ratio,
      |  ROUND(n_chars * 1.0 / n_tokens, 6) AS avg_tok_len,
      |  CASE WHEN n_distinct * 1.0 / n_tokens >= 0.5 AND n_tokens >= 20 THEN 'good'
      |       WHEN n_distinct * 1.0 / n_tokens >= 0.25 THEN 'ok'
      |       ELSE 'spam' END AS quality_band
      |FROM f
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val f = withToks(Tables.documents(s, d)).select(
      col("doc_id"), col("n_chars"),
      size(col("toks")).as("n_tokens"),
      size(array_distinct(col("toks"))).as("n_distinct"),
      expr("size(filter(toks, x -> x IN ('the','a','of','and','to','in','is')))").as("n_stop"),
      ceil(col("n_chars") / 4.0).as("est_bpe_tokens"))
    f.select(
        col("doc_id"), col("n_tokens"), col("n_distinct"), col("est_bpe_tokens"),
        round(col("n_distinct") * 1.0 / col("n_tokens"), 6).as("ttr"),
        round(col("n_stop") * 1.0 / col("n_tokens"), 6).as("stop_ratio"),
        round(col("n_chars") * 1.0 / col("n_tokens"), 6).as("avg_tok_len"),
        when(col("n_distinct") * 1.0 / col("n_tokens") >= 0.5 && col("n_tokens") >= 20, "good")
          .when(col("n_distinct") * 1.0 / col("n_tokens") >= 0.25, "ok")
          .otherwise("spam").as("quality_band"))
      .orderBy(col("doc_id"))
  }

  /** Corpus token statistics: top-50 tokens by frequency + doc frequency. */
  val tokenStats = Q(
    "q39_token_stats",
    """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
      |SELECT tok, COUNT(*) AS n_occurrences, COUNT(DISTINCT doc_id) AS doc_freq
      |FROM t
      |GROUP BY tok
      |ORDER BY n_occurrences DESC, tok
      |LIMIT 50""".stripMargin) { (s, d) =>
    withToks(Tables.documents(s, d))
      .select(col("doc_id"), explode(col("toks")).as("tok"))
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("n_occurrences"), countDistinct(col("doc_id")).as("doc_freq"))
      .orderBy(col("n_occurrences").desc, col("tok"))
      .limit(50)
  }

  /** Order-insensitive document fingerprint: md5 over the sorted distinct
    * token set (a content signature robust to token reordering).
    */
  val fingerprint = Q(
    "q40_fingerprint",
    """SELECT doc_id,
      |  md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp
      |FROM documents
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"),
        md5(concat_ws(" ", sort_array(array_distinct(split(col("text"), " "))))).as("fp"))
      .orderBy(col("doc_id"))
  }

  /** Benchmark decontamination — the train/eval overlap scan every
    * training pipeline must run: a training doc (doc_id < 450) is
    * contaminated if it shares ANY 5-token window with the held-out
    * benchmark set (doc_id ≥ 450). Grams build in ONE narrow codegen'd
    * projection per side (`graft_ngrams` — no window shuffle/sort of the
    * tokenized corpus, no interpreted lambdas); the only pairwise-ish
    * work is the equi-join ON THE GRAM, which shuffles gram hashes
    * linearly — at 100 TB the shuffle carries each side's distinct grams
    * once, never a doc×doc product. Both sides dedup BEFORE the join
    * (bench globally, train per-doc via array_distinct inside the
    * projection), so join multiplicity is exactly 0/1 per (train doc,
    * gram) and the post-join count needs no distinct shuffle. Grams
    * travel as xxhash64 LONGS, not strings — the shuffle/broadcast
    * carries 8 bytes per gram instead of ~5 tokens of text (a 64-bit
    * collision inflates a count by 1 with p ≈ n²/2⁶⁴ — negligible at any
    * ingestible corpus size; a paranoid 100 TB run would widen to two
    * independent 64-bit hashes). Eval suites are small, so the bench
    * side broadcasts.
    */
  val decontamination = Q(
    "q97_decontamination",
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |sh AS (
      |  SELECT doc_id, array_to_string(toks[i:i+4], ' ') AS g
      |  FROM t, LATERAL (SELECT unnest(range(1, len(toks) - 3)) AS i) u),
      |bench AS (SELECT DISTINCT g FROM sh WHERE doc_id >= 450),
      |hits AS (
      |  SELECT s.doc_id, COUNT(DISTINCT s.g) AS n_shared_grams
      |  FROM sh s JOIN bench b USING (g)
      |  WHERE s.doc_id < 450 GROUP BY s.doc_id)
      |SELECT doc_id, CAST(n_shared_grams AS BIGINT) AS n_shared_grams
      |FROM hits ORDER BY doc_id""".stripMargin) { (s, d) =>
    def grams(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id"),
        explode(array_distinct(NGrams.ngrams(split(col("text"), " "), 5))).as("g"))
      .select(col("doc_id"), xxhash64(col("g")).as("gh"))
    val docs = Tables.documents(s, d)
    val bench = grams(docs.filter(col("doc_id") >= 450)).select(col("gh")).distinct()
    grams(docs.filter(col("doc_id") < 450))
      .join(bench, Seq("gh"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared_grams"))
      .orderBy(col("doc_id"))
  }

  val specs: Seq[Q] = Seq(dedupExact, ngramJaccard, minhashLsh, simhash,
    langStats, langId, qualityScore, tokenStats, fingerprint, decontamination)
}
