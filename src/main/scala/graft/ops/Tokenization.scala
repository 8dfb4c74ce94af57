package graft.ops

import graft.{Det, Q, Tables}
import graft.functions.NGrams
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** BPE, vocabulary, n-gram and language-model scoring: text
  * normalization and pre-tokenization, the fixed BPE merge table and its
  * encoder ([[mergeSweeps]] is shared with [[graft.functions.BpeTrainer]]),
  * vocabulary pruning / coverage / OOV, bigram and PMI statistics, TF-IDF
  * keywords, n-gram diversity and the bigram LM scorers whose oracle text
  * [[LmModel]] and [[IngestionGate]] reuse.
  */
object Tokenization {

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

  /** Unigram-LM commonness score — the cheap shape of perplexity-based
    * quality filtering (CCNet-style): score each document by the corpus
    * frequency of its tokens (mean + rarest). Docs full of rare garbage
    * tokens score low; boilerplate scores high. Kept in exact integer
    * units (mean at 3 decimals) rather than log-space — log10 is not
    * bit-stable across engines, token counts are. At 100 TB the token-
    * frequency table is vocabulary-sized: it broadcasts, and the
    * instance side never shuffles (the per-doc groupBy reuses the scan).
    */
  val tokenCommonness = Q(
    "q113_token_commonness",
    """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      |c AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS n FROM t GROUP BY tok)
      |SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_toks,
      |  MIN(c.n) AS rarest_freq,
      |  (2 * CAST(SUM(c.n) AS BIGINT) * 1000 + COUNT(*)) // (2 * COUNT(*)) / 1000.0
      |    AS mean_tok_freq
      |FROM t JOIN c USING (tok)
      |GROUP BY t.doc_id
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val t = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
    val c = t.groupBy(col("tok")).agg(count(lit(1)).as("n"))
    t.join(c, Seq("tok"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_toks"), min(col("n")).as("rarest_freq"),
        sum(col("n")).as("sum_n"))
      .select(col("doc_id"), col("n_toks"), col("rarest_freq"),
        (Det.halfUpDiv(col("sum_n") * 1000, col("n_toks")) / 1000.0)
          .as("mean_tok_freq"))
      .orderBy(col("doc_id"))
  }

  /** PMI-style collocation mining as exact integer "lift":
    * N²·c(xy) / (M·c(x)·c(y)) — the log-free monotone form of pointwise
    * mutual information, top-25 bigrams with support ≥ 5. The unigram
    * table is vocabulary-sized (broadcast at scale); the bigram count is
    * one partial-agg'd groupBy over the codegen'd gram projection. The
    * lift product runs in 38-digit exact arithmetic (DECIMAL(38,0) /
    * HUGEINT): the worst-case intermediate 2·a·b·c(xy) ≈ 4·10⁵·N² for a
    * support-threshold pair of two count-5 tokens, which exceeds BIGINT
    * at only ~10⁷ corpus tokens (and would throw under ANSI) but stays
    * inside 38 digits to ~10¹⁶ tokens.
    */
  val pmiCollocations = Q(
    "q115_pmi_collocations",
    """WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents
      |  WHERE len(string_split(text, ' ')) >= 2),
      |u AS (SELECT unnest(t) AS tok FROM toks),
      |cu AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS n FROM u GROUP BY tok),
      |nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM u),
      |bg AS (SELECT unnest(list_transform(range(1, len(t)),
      |         i -> array_to_string(t[i:i+1], ' '))) AS gr FROM toks),
      |cb AS (SELECT gr, CAST(COUNT(*) AS BIGINT) AS nxy FROM bg
      |       GROUP BY gr HAVING COUNT(*) >= 5),
      |mt AS (SELECT CAST(COUNT(*) AS BIGINT) AS m_total FROM bg),
      |j AS (SELECT cb.gr, cb.nxy,
      |        (2 * nt.n_total * 1000 + cx.n) // (2 * cx.n) AS a,
      |        (2 * nt.n_total * 1000 + cy.n) // (2 * cy.n) AS b,
      |        mt.m_total
      |      FROM cb
      |      JOIN cu cx ON cx.tok = string_split(cb.gr, ' ')[1]
      |      JOIN cu cy ON cy.tok = string_split(cb.gr, ' ')[2]
      |      CROSS JOIN nt CROSS JOIN mt)
      |SELECT gr, nxy,
      |  CAST((2 * CAST(a AS HUGEINT) * b * nxy + CAST(m_total AS HUGEINT) * 1000)
      |    // (2 * CAST(m_total AS HUGEINT) * 1000) AS BIGINT) / 1000.0 AS lift
      |FROM j
      |ORDER BY lift DESC, gr
      |LIMIT 25""".stripMargin) { (s, d) =>
    val toks = Tables.documents(s, d)
      .select(split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 2)
    val uni = toks.select(explode(col("t")).as("tok"))
    val cu = uni.groupBy(col("tok")).agg(count(lit(1)).as("n"))
    val nTot = uni.agg(count(lit(1)).as("n_total"))
    val bg = toks.select(explode(NGrams.ngrams(col("t"), 2)).as("gr"))
    val cb = bg.groupBy(col("gr")).agg(count(lit(1)).as("nxy"))
      .filter(col("nxy") >= 5)
    val mTot = bg.agg(count(lit(1)).as("m_total"))
    cb.withColumn("w1", split(col("gr"), " ").getItem(0))
      .withColumn("w2", split(col("gr"), " ").getItem(1))
      .join(cu.as("cx"), col("w1") === col("cx.tok"))
      .join(cu.as("cy"), col("w2") === col("cy.tok"))
      .crossJoin(broadcast(nTot)).crossJoin(broadcast(mTot))
      .withColumn("a", Det.halfUpDiv(col("n_total") * 1000, col("cx.n")))
      .withColumn("b", Det.halfUpDiv(col("n_total") * 1000, col("cy.n")))
      .select(col("gr"), col("nxy"),
        (Det.halfUpDiv(
          col("a").cast(org.apache.spark.sql.types.DecimalType(38, 0))
            * col("b") * col("nxy"),
          col("m_total").cast(org.apache.spark.sql.types.DecimalType(38, 0)) * 1000)
          .cast("long") / 1000.0)
          .as("lift"))
      .orderBy(col("lift").desc, col("gr"))
      .limit(25)
  }

  /** OOV rate against a frequency-capped vocabulary (top-10 tokens by
    * corpus count, ties broken lexically) — the tokenizer-coverage
    * check run before committing to a vocab size. The vocabulary is
    * deterministic (total-ordered limit) and BROADCAST to the token
    * stream; per-doc aggregation reuses the scan partitioning. At
    * production vocab sizes (32–256k) the broadcast is a few MB —
    * the same plan.
    */
  val oovRate = Q(
    "q118_oov_rate",
    """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      |c AS (SELECT tok, COUNT(*) AS n FROM t GROUP BY tok),
      |v AS (SELECT tok FROM c ORDER BY n DESC, tok LIMIT 10)
      |SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_toks,
      |  CAST(COUNT(*) FILTER (WHERE v.tok IS NULL) AS BIGINT) AS n_oov,
      |  (2 * COUNT(*) FILTER (WHERE v.tok IS NULL) * 1000000 + COUNT(*))
      |    // (2 * COUNT(*)) / 10000.0 AS oov_pct
      |FROM t LEFT JOIN v ON v.tok = t.tok
      |GROUP BY t.doc_id
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val t = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
    val v = t.groupBy(col("tok")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok")).limit(10)
      .select(col("tok").as("vtok"))
    t.join(broadcast(v), col("tok") === col("vtok"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_toks"),
        count(when(col("vtok").isNull, 1)).as("n_oov"))
      .select(col("doc_id"), col("n_toks"), col("n_oov"),
        (Det.halfUpDiv(col("n_oov") * 1000000, col("n_toks")) / 10000.0)
          .as("oov_pct"))
      .orderBy(col("doc_id"))
  }

  /** The first BPE training iteration: count adjacent CHARACTER pairs
    * inside tokens (never across token boundaries) and rank merge
    * candidates — the map-reduce core a distributed tokenizer trainer
    * repeats per merge. The pair stream generates inside whole-stage
    * codegen (Generate over a sequence + substr — no interpreted
    * lambda), partial-aggs map-side, and shuffles only (pair, count)
    * vocabulary rows. Each merge round at 100 TB is exactly this plan
    * re-run on the re-paired corpus.
    */
  val bpeMergePairs = Q(
    "q128_bpe_merge_pairs",
    """WITH t AS (
      |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
      |p AS (
      |  SELECT unnest(list_transform(range(1, len(tok)),
      |    i -> substr(tok, CAST(i AS INTEGER), 2))) AS pair
      |  FROM t WHERE len(tok) >= 2)
      |SELECT pair, CAST(COUNT(*) AS BIGINT) AS n
      |FROM p
      |GROUP BY pair
      |ORDER BY n DESC, pair
      |LIMIT 20""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("tok"))
      .filter(length(col("tok")) >= 2)
      .select(col("tok"), explode(expr("sequence(1, length(tok) - 1)")).as("i"))
      .select(expr("substr(tok, i, 2)").as("pair"))
      .groupBy(col("pair"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(20)
  }

  /** The 10-rule BPE merge table q135 applies — EXACTLY what
    * [[graft.functions.BpeTrainer]] learns on the sf0.01 corpus
    * (provenance locked in BpeTrainerSpec; ties break (count desc, pair
    * asc), the trainer's deterministic order). Rank order matters:
    * later rules reference merged symbols (`m+er`, `p+ar`).
    */
  private[graft] val BpeMerges: Seq[(String, String)] = Seq(
    "e" -> "r", "i" -> "n", "o" -> "w", "o" -> "r", "s" -> "t",
    "m" -> "er", "a" -> "t", "l" -> "u", "a" -> "r", "p" -> "ar")

  /** Tokenizer application — the missing middle of the BPE family (q106
    * pre-tokenizes, q128 counts merge pairs to TRAIN; this ENCODES with
    * a trained table): per-doc BPE token counts and the chars-per-token
    * compression ratio, the number a tokenizer eval actually reports.
    *
    * The encode is VOCABULARY-CONFINED — the merge loop runs over the
    * distinct-word table (vocabulary-sized, shuffles nothing) and the
    * corpus-sized token stream only broadcast-joins the finished
    * (word → token-count) map, exactly how production tokenization
    * amortizes at 100 TB. Each rule is a sentinel-padded
    * `replace(' a b ' → ' ab ')` sweep over the spaced symbol string,
    * run THREE times per rule: a single leftmost-non-overlapping sweep
    * under-merges immediately-adjacent repeats (the first match
    * consumes the shared boundary space — "papa" with rule p+a), and
    * three sweeps reach the per-rule fixpoint for every word up to
    * twice the corpus' max token length (the FunctionLaws property
    * generates adversarial repeat words and checks 3-sweep ≡ fixpoint;
    * Advanced11Spec checks the full corpus against a reference
    * encoder). Both engines share the replace semantics, so oracle
    * parity holds at ANY sweep count — the sweeps buy fidelity to real
    * BPE, not determinism.
    */
  /** The shared encode CTEs (`t` token stream with lang, `w` distinct
    * words, `c` per-word BPE token + char counts) — ONE definition for
    * q135 (reporting) and q139 (packing), mirroring [[bpeWordCounts]].
    */
  private def bpeCteSql: String = {
    // (?s) matches the Spark side's spacedSymbols: a line terminator
    // inside a token is its own symbol in BOTH engines
    val spaced = """' ' || regexp_replace(tok, '(?s)(.)', '\1 ', 'g')"""
    val enc = BpeMerges.foldLeft(spaced) { case (acc, (a, b)) =>
      (1 to 3).foldLeft(acc)((c, _) => s"replace($c, ' $a $b ', ' $a$b ')")
    }
    s"""WITH t AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
       |           FROM documents),
       |w AS (SELECT DISTINCT tok FROM t),
       |c AS (SELECT tok,
       |        CAST(len(string_split(trim($enc), ' ')) AS BIGINT) AS n_bpe,
       |        CAST(len(tok) AS BIGINT) AS n_chars
       |      FROM w)""".stripMargin
  }

  /** ONE merge rule applied as three sentinel-padded literal-replace
    * sweeps — the shared kernel of the encoder (here), the trainer
    * ([[graft.functions.BpeTrainer]]) and the oracle SQL ([[bpeCteSql]]),
    * so "what a rule does to a segmentation" has a single definition
    * and the trainer/encoder provenance lock is structural.
    *
    * SEMANTICS NOTE: a replace sweep is leftmost-non-overlapping WITH
    * BOUNDARY CONSUMPTION — after a merge, the immediately following
    * pair cannot start a match in the same sweep (its leading sentinel
    * was consumed). On self-pair runs ≥ 4 symbols this segments
    * differently from per-token greedy BPE ("aaaaa" → [aa,a,aa], HF
    * greedy gives [aa,aa,a]); natural trained tables essentially never
    * merge a symbol with itself over long runs, and every consumer in
    * this repo (trainer, encoder, oracle) shares the sweep definition,
    * so the engine is self-consistent and oracle-exact by construction.
    */
  private[graft] def mergeSweeps(seqCol: org.apache.spark.sql.Column,
      a: String, b: String): org.apache.spark.sql.Column =
    (1 to 3).foldLeft(seqCol)((c, _) => replace(c, lit(s" $a $b "), lit(s" $a$b ")))

  /** Sentinel-padded single-symbol segmentation of a token column:
    * `"ab"` → `" a b "`. `(?s)` so a line terminator inside a token is
    * its own symbol too.
    */
  private[graft] def spacedSymbols(tok: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    concat(lit(" "), regexp_replace(tok, "(?s)(.)", "$1 "))

  /** The broadcast-able per-word (tok, n_bpe, n_chars) encode table for
    * ANY token stream with a `tok` column — the vocabulary-confined half
    * of tokenizer application, reused by q135/q139 and the
    * CorpusPipeline run report.
    */
  private[graft] def bpeVocabCounts(toks: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val enc = BpeMerges.foldLeft(spacedSymbols(col("tok"))) {
      case (acc, (a, b)) => mergeSweeps(acc, a, b)
    }
    toks.select(col("tok")).distinct()
      .select(col("tok"),
        size(split(trim(enc), " ")).cast("long").as("n_bpe"),
        length(col("tok")).cast("long").as("n_chars"))
  }

  /** Spark twin of [[bpeCteSql]]: the corpus token stream and its
    * vocabulary encode table.
    */
  private def bpeWordCounts(s: org.apache.spark.sql.SparkSession, d: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val t = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("tok"))
    (t, bpeVocabCounts(t))
  }

  val bpeEncode = Q(
    "q135_bpe_encode",
    (bpeCteSql +
      s"""
         |SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
         |  CAST(SUM(c.n_bpe) AS BIGINT) AS n_bpe_tokens,
         |  (2 * CAST(SUM(c.n_chars) AS BIGINT) * 1000000 + CAST(SUM(c.n_bpe) AS BIGINT))
         |    // (2 * CAST(SUM(c.n_bpe) AS BIGINT)) / 1000000.0 AS chars_per_token
         |FROM t JOIN c USING (tok)
         |GROUP BY t.doc_id
         |ORDER BY doc_id""").stripMargin) { (s, d) =>
    val (t, words) = bpeWordCounts(s, d)
    t.join(broadcast(words), Seq("tok"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_bpe")).as("n_bpe_tokens"),
        sum(col("n_chars")).as("sum_chars"))
      .select(col("doc_id"), col("n_words"), col("n_bpe_tokens"),
        (Det.halfUpDiv(col("sum_chars") * 1000000, col("n_bpe_tokens")) / 1000000.0)
          .as("chars_per_token"))
      .orderBy(col("doc_id"))
  }

  /** Token-aware sequence packing — q68's greedy cumsum binning driven
    * by REAL tokenizer counts instead of whitespace words (what the
    * trainer actually pays for context): per-(lang, pack) document and
    * BPE-token totals plus the exact fill ratio against a 1024-token
    * budget. The per-doc counts come from the shared vocabulary-
    * confined encode ([[bpeWordCounts]]); the packing itself is one
    * rank window per language (the shard key at scale, q68's layout).
    * A document longer than the budget overfills its pack rather than
    * splitting (greedy packing's contract — chunk first via q67 if
    * splitting is wanted), so `fill` can exceed 1.
    */
  val bpePacking = Q(
    "q139_bpe_packing",
    (bpeCteSql +
      """,
      |docs AS (
      |  SELECT t.doc_id, t.lang, CAST(SUM(c.n_bpe) AS BIGINT) AS n_bpe
      |  FROM t JOIN c USING (tok) GROUP BY t.doc_id, t.lang),
      |packed AS (
      |  SELECT lang, doc_id, n_bpe,
      |    CAST((SUM(n_bpe) OVER (PARTITION BY lang ORDER BY doc_id
      |       ROWS UNBOUNDED PRECEDING) - n_bpe) // 1024 AS BIGINT) AS pack_id
      |  FROM docs)
      |SELECT lang, pack_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_bpe) AS BIGINT) AS n_bpe_tokens,
      |  (2 * CAST(SUM(n_bpe) AS BIGINT) * 1000 + 1024) // 2048 / 1000.0 AS fill
      |FROM packed
      |GROUP BY lang, pack_id
      |ORDER BY lang, pack_id""").stripMargin) { (s, d) =>
    val (t, words) = bpeWordCounts(s, d)
    val docs = t.join(broadcast(words), Seq("tok"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("n_bpe")).as("n_bpe"))
    val wPack = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    docs
      .withColumn("cum", sum(col("n_bpe")).over(wPack))
      .withColumn("pack_id", expr("(cum - n_bpe) DIV 1024"))
      .groupBy(col("lang"), col("pack_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_bpe")).as("n_bpe_tokens"))
      .select(col("lang"), col("pack_id"), col("n_docs"), col("n_bpe_tokens"),
        (Det.halfUpDiv(col("n_bpe_tokens") * 1000, lit(1024L)) / 1000.0).as("fill"))
      .orderBy(col("lang"), col("pack_id"))
  }

  /** q183: TOKENIZER FERTILITY per language — BPE tokens per whitespace
    * word (the metric multilingual curation watches: a language the
    * tokenizer serves poorly pays more context per word, so its
    * effective token budget shrinks). q135's vocabulary-confined encode
    * ([[bpeVocabCounts]] / [[bpeCteSql]] — the ONE shared sweep kernel)
    * aggregated per lang instead of per doc; fertility kept in exact
    * half-up ppm integers like every LM-side ratio.
    */
  val bpeFertility = Q(
    "q183_bpe_fertility",
    (bpeCteSql +
      """
      |SELECT t.lang, CAST(COUNT(DISTINCT t.doc_id) AS BIGINT) AS n_docs,
      |  CAST(COUNT(*) AS BIGINT) AS n_words,
      |  CAST(SUM(c.n_bpe) AS BIGINT) AS n_bpe_tokens,
      |  CAST((2 * SUM(c.n_bpe) * 1000000 + COUNT(*)) // (2 * COUNT(*)) AS BIGINT)
      |    AS fertility_ppm
      |FROM t JOIN c USING (tok)
      |GROUP BY t.lang
      |ORDER BY t.lang""").stripMargin) { (s, d) =>
    val (t, words) = bpeWordCounts(s, d)
    t.join(broadcast(words), Seq("tok"))
      .groupBy(col("lang"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_words"),
        sum(col("n_bpe")).as("n_bpe_tokens"))
      .select(col("lang"), col("n_docs"), col("n_words"), col("n_bpe_tokens"),
        Det.halfUpDiv(col("n_bpe_tokens") * 1000000, col("n_words"))
          .as("fertility_ppm"))
      .orderBy(col("lang"))
  }

  /** The shared LM oracle core, parameterized by the training-corpus
    * relation: tokenize-with-position → unigram counts + total →
    * lead() transition pairs → enriched bigram table (λ=0.9
    * interpolation terms in exact ppm). ONE copy serving q154 (trains
    * and scores on the full corpus) and q159 (trains on the existing
    * corpus, scores the delta), mirroring the single Spark-side
    * builder [[LmModel.modelTables]] — a smoothing edit is one edit
    * per engine, not three.
    */
  private[ops] def lmOracleCore(corpusSql: String): String =
    s"""cx AS (SELECT doc_id, unnest(string_split(text,' ')) AS tok,
      |         generate_subscripts(string_split(text,' '), 1) AS pos
      |       FROM $corpusSql),
      |uni AS (SELECT tok AS w, CAST(COUNT(*) AS BIGINT) AS c FROM cx GROUP BY tok),
      |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM uni),
      |cbg AS (SELECT doc_id, tok AS w1,
      |          lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS w2 FROM cx),
      |bi AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12 FROM cbg
      |       WHERE w2 IS NOT NULL GROUP BY w1, w2),
      |bie AS (SELECT b.w1, b.w2,
      |          ${hudSql("b.c12 * 1000000", "u1.c")} AS p_cond,
      |          ${hudSql("u2.c * 1000000", "t0.n")} AS p_uni
      |        FROM bi b JOIN uni u1 ON u1.w = b.w1
      |                  JOIN uni u2 ON u2.w = b.w2
      |                  CROSS JOIN tot t0)""".stripMargin

  /** The per-document aggregation tail shared by the LM oracles. */
  private[ops] def LmAggTail: String =
    """SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_trans,
      |  CAST(MIN(s) AS BIGINT) AS rarest_ppm,
      |  CAST((2 * SUM(s) + COUNT(*)) // (2 * COUNT(*)) AS BIGINT) AS mean_ppm
      |FROM sc GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  /** Interpolated bigram-LM score per document — the workhorse of
    * CCNet-style quality filtering: train an LM on the corpus, score
    * each document by how expected its token transitions are, and cut
    * the surprising tail. Per transition (w1→w2) the score is the
    * λ-interpolated estimate λ·P(w2|w1) + (1−λ)·P(w2) with λ=0.9, kept
    * in exact ppm integer units instead of log-space (log is not
    * bit-stable across engines; the ranking is the same). A document's
    * signals are its mean transition score and its single most
    * surprising transition.
    *
    * Scale shape: transitions come from the codegen'd `graft_ngrams`
    * projection (a flat per-document loop — NO corpus-wide window/sort;
    * the oracle's lead() formulation is value-identical because tokens
    * cannot contain the separator). The bigram/unigram COUNT tables are
    * content-diversity sized and enriched vocab-side first (bigram
    * table joins its two unigram marginals + the 1-row total, with the
    * tiny unigram table checkpointed so its corpus scan runs once), and
    * the instance side pays ONE equi-join on the gram string against
    * the enriched table — never three corpus-sized joins. Total corpus
    * work: three scan-bound projections and one instance join, zero
    * sorts.
    */
  val bigramLmScore = Q(
    "q154_bigram_lm_score",
    (s"WITH ${lmOracleCore("documents")}" +
      s""",
      |sc AS (SELECT g.doc_id,
      |         ${hudSql("9 * e.p_cond + e.p_uni", "10")} AS s
      |       FROM cbg g JOIN bie e ON e.w1 = g.w1 AND e.w2 = g.w2
      |       WHERE g.w2 IS NOT NULL)
      |$LmAggTail""").stripMargin) { (s, d) =>
    // ONE model-build path shared with the persisted ops.LmModel (the
    // codegen'd gram transitions + vocab-side-enriched bigram table) —
    // the live scorer and the servable model cannot desynchronize
    val docs = Tables.documents(s, d)
    val (bie, _, _) = LmModel.modelTables(docs)
    LmModel.transitions(docs).join(bie, Seq("gram"))
      .select(col("doc_id"),
        Det.halfUpDiv(lit(9) * col("p_cond") + col("p_uni"), lit(10)).as("s"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_trans"), min(col("s")).as("rarest_ppm"),
        sum(col("s")).as("sum_s"))
      .select(col("doc_id"), col("n_trans"), col("rarest_ppm"),
        Det.halfUpDiv(col("sum_s"), col("n_trans")).as("mean_ppm"))
      .orderBy(col("doc_id"))
  }

  /** Sign-aware half-up integer division as DuckDB SQL text — the
    * negative-capable [[Det.halfUpDiv]] spelling (gradients and centered
    * features go negative, so the short non-negative form is WRONG here;
    * see the Det scaladoc).
    */
  private[ops] def hudSql(num: String, den: String): String =
    s"((2*($num) + CASE WHEN ($num) < 0 THEN -($den) ELSE ($den) END) // (2*($den)))"

  /** Incremental LM scoring under the hard gate — q153's pattern for
    * the language model: the arriving delta (doc_id ≥ 400, q65's
    * convention) is scored against a model trained ONLY on the existing
    * corpus (doc_id < 400), through the SAME [[LmModel.scoreAgainst]]
    * join the persisted model serves — including the unigram-backoff
    * branch for transitions the training corpus never saw, which q154
    * (self-trained) can never exercise; the testdata delta carries such
    * transitions at every SF and LmModelSpec asserts that fact so a
    * regeneration that silently removed them (reducing this gate to
    * q154's shape) fails loudly. The OOV 0-floor has no oracle
    * coverage (the delta shares the corpus vocabulary) — it is pinned
    * by LmModelSpec's crafted OOV batch instead. LmModelSpec also pins
    * this live form bit-identical to a write + scoreBatch roundtrip.
    */
  val incrementalLmScore = Q(
    "q159_incremental_lm_score",
    (s"WITH ${lmOracleCore("(SELECT doc_id, text FROM documents WHERE doc_id < 400)")}" +
      s""",
      |bx AS (SELECT doc_id, unnest(string_split(text,' ')) AS tok,
      |         generate_subscripts(string_split(text,' '), 1) AS pos
      |       FROM documents WHERE doc_id >= 400),
      |bbg AS (SELECT doc_id, tok AS w1,
      |          lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS w2 FROM bx),
      |sc AS (SELECT g.doc_id,
      |         CASE WHEN e.p_cond IS NOT NULL
      |              THEN ${hudSql("9 * e.p_cond + e.p_uni", "10")}
      |              ELSE ${hudSql(s"COALESCE(${hudSql("u2b.c * 1000000", "t0.n")}, 0)", "10")}
      |         END AS s
      |       FROM bbg g
      |       LEFT JOIN bie e ON e.w1 = g.w1 AND e.w2 = g.w2
      |       LEFT JOIN uni u2b ON u2b.w = g.w2
      |       CROSS JOIN tot t0
      |       WHERE g.w2 IS NOT NULL)
      |$LmAggTail""").stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val (bie, uni, tot) = LmModel.modelTables(docs.filter(col("doc_id") < 400))
    LmModel.scoreAgainst(bie, LmModel.unigramP(uni, tot),
      docs.filter(col("doc_id") >= 400))
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

  // ---------------------------------------------------------------- q182

  /** q182: N-GRAM DIVERSITY per source — distinct-1/distinct-2 (Li et
    * al. 2016's distinct-n over the source's concatenated docs), the
    * corpus-health metric a curation loop watches for mode collapse in
    * synthetic/filtered data. Both gram families ride the same tagged
    * one-pass explode as q175; the two exact distinct-counts cost one
    * Expand (Spark's multi-distinct shape) whose exchange carries
    * (source, n, gram)-deduped rows — at extreme vocabularies the HLL
    * sketch family (q22b) is the documented estimate path.
    */
  val ngramDiversity = Q(
    "q182_ngram_diversity",
    """WITH t AS (SELECT source, string_split(text, ' ') AS tk FROM documents),
      |g AS (
      |  SELECT source, 1 AS n, unnest(tk) AS gram FROM t
      |  UNION ALL
      |  SELECT source, 2 AS n,
      |    unnest(list_transform(range(1, len(tk)), i -> array_to_string(tk[i:i+1], ' ')))
      |  FROM t)
      |SELECT source,
      |  CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unigrams,
      |  CAST(COUNT(DISTINCT CASE WHEN n = 1 THEN gram END) AS BIGINT) AS d_unigrams,
      |  ROUND(COUNT(DISTINCT CASE WHEN n = 1 THEN gram END) * 1.0
      |    / SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END), 6) AS distinct1,
      |  CAST(SUM(CASE WHEN n = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_bigrams,
      |  CAST(COUNT(DISTINCT CASE WHEN n = 2 THEN gram END) AS BIGINT) AS d_bigrams,
      |  ROUND(COUNT(DISTINCT CASE WHEN n = 2 THEN gram END) * 1.0
      |    / NULLIF(SUM(CASE WHEN n = 2 THEN 1 ELSE 0 END), 0), 6) AS distinct2
      |FROM g GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
    val base = TextOps.withToks(Tables.documents(s, d))
      .select(col("source"), size(col("toks")).as("len"),
        posexplode(concat(
          graft.functions.NGrams.ngrams(col("toks"), 1),
          graft.functions.NGrams.ngrams(col("toks"), 2))))
      .select(col("source"),
        when(col("pos") < col("len"), 1).otherwise(2).as("n"),
        col("col").as("gram"))
    base.groupBy(col("source"))
      .agg(
        sum(when(col("n") === 1, 1L).otherwise(0L)).as("n_unigrams"),
        countDistinct(when(col("n") === 1, col("gram"))).as("d_unigrams"),
        sum(when(col("n") === 2, 1L).otherwise(0L)).as("n_bigrams"),
        countDistinct(when(col("n") === 2, col("gram"))).as("d_bigrams"))
      .select(col("source"), col("n_unigrams"), col("d_unigrams"),
        round(col("d_unigrams") * 1.0 / col("n_unigrams"), 6).as("distinct1"),
        col("n_bigrams"), col("d_bigrams"),
        // NULL, not NaN, when a source has no bigrams (all single-token
        // docs): DuckDB's 0/0 answer depends on its ieee setting, so the
        // quotient is guarded identically on both sides (NULLIF above).
        when(col("n_bigrams") === 0, lit(null).cast("double"))
          .otherwise(round(col("d_bigrams") * 1.0 / col("n_bigrams"), 6))
          .as("distinct2"))
      .orderBy(col("source"))
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

  val specs: Seq[Q] = Seq(bigramStats, vocabPrune, textNormalize,
    bpePretokenize, tokenCommonness, pmiCollocations, oovRate, bpeMergePairs,
    bpeEncode, bpePacking, bpeFertility, bigramLmScore, incrementalLmScore,
    tfIdf, ngramDiversity, vocabCoverage)
}
