package graft.ops

import graft.{Det, Q, Tables}
import graft.functions.{CosineSim, OuterUpper}
import org.apache.spark.sql.functions._

/** Seventh advanced batch (round 4): the full-width declarative moment
  * matrix (closing ROADMAP round-5 candidate #2), float-free lexical
  * quality signals, cluster-level keep-best dedup resolution, semantic
  * (embedding-space) dedup pruning, and the cross-split contamination
  * audit — the last mile of a training-data pipeline: after candidate
  * generation (q32), clustering (q57) and splitting (q87), something
  * must DECIDE what ships in the training set and prove the eval split
  * is clean.
  */
object Advanced11 {

  /** Full 64-dimension second-moment (Gram) matrix — all 2080 upper-
    * triangle E[vᵢvⱼ] entries, oracle-checked (q116 covers the leading
    * 8 dims with a literal struct array; this is the full width the
    * PCA/whitening path actually consumes, matching
    * `functions.PCA.secondMoment`'s treeAggregate kernel). Per row, the
    * codegen'd [[graft.functions.OuterUpper]] loop emits the 2080
    * products as one flat array — a 6-line runtime loop instead of a
    * 2080-entry unrolled projection — then ONE posexplode + 2080-group
    * partial aggregate reduces them; (i,j) coordinates come from a
    * 2080-row broadcast lookup, so no float index math anywhere. One
    * pass over the vectors, no self-join, map-side combine does the
    * heavy lifting: the shuffle carries at most 2080 rows per task at
    * any corpus size. Products round to micro-units BEFORE the exact
    * BIGINT sum (q75/q116's boundary-exact recipe).
    */
  val fullMoments = Q(
    "q130_full_moments",
    """SELECT CAST(p.i AS INTEGER) AS i, CAST(p.j AS INTEGER) AS j,
      |  (2 * SUM(CAST(ROUND(CAST(embedding[p.i + 1] AS DOUBLE)
      |                      * CAST(embedding[p.j + 1] AS DOUBLE) * 1000000) AS BIGINT))
      |     + CASE WHEN SUM(CAST(ROUND(CAST(embedding[p.i + 1] AS DOUBLE)
      |                      * CAST(embedding[p.j + 1] AS DOUBLE) * 1000000) AS BIGINT)) < 0
      |            THEN -COUNT(*) ELSE COUNT(*) END)
      |    // (2 * COUNT(*)) / 1000000.0 AS m2,
      |  COUNT(*) AS n_vectors
      |FROM (SELECT embedding FROM embeddings WHERE len(embedding) = 64) embeddings
      |CROSS JOIN (SELECT a.i AS i, b.j AS j
      |            FROM range(0, 64) a(i), range(0, 64) b(j) WHERE a.i <= b.j) p
      |GROUP BY p.i, p.j
      |ORDER BY i, j""".stripMargin) { (s, d) =>
    val dim = 64
    val pairs = (for { i <- 0 until dim; j <- i until dim } yield (i, j)).zipWithIndex
      .map { case ((i, j), k) => (k, i, j) }
    val coords = s.createDataFrame(pairs).toDF("pos", "i", "j")
    Tables.embeddings(s, d)
      .filter(size(col("embedding")) === dim)
      .select(posexplode(OuterUpper.outerUpper(col("embedding"))).as(Seq("pos", "p")))
      .groupBy(col("pos"))
      .agg(sum(round(col("p") * 1000000).cast("long")).as("sum_micro"),
        count(lit(1)).as("n_vectors"))
      .join(broadcast(coords), Seq("pos"))
      .select(col("i"), col("j"),
        (Det.halfUpDiv(col("sum_micro"), col("n_vectors")) / 1000000.0).as("m2"),
        col("n_vectors"))
      .orderBy(col("i"), col("j"))
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

  /** Keep-best dedup resolution: for every near-duplicate cluster (q57's
    * connected components over the LSH candidate graph), CHOOSE the
    * member that survives — longest document wins, doc_id breaks ties —
    * and account for what gets dropped. This is the decision step a
    * dedup pipeline runs between clustering and the corpus purge (q76
    * keeps min-doc_id; real pipelines keep the best-quality member).
    * The cluster table is graph-sized (≪ corpus) and the documents join
    * it by primary key; the argmax is a map-side-combined `max_by` on a
    * (quality, −doc_id) STRUCT key — orderable at any scale, while the
    * oracle packs the pair into one BIGINT (monotonic while doc_id <
    * 10⁸, always true at the oracle's test SFs).
    */
  val clusterKeepBest = Q(
    "q132_cluster_keep_best",
    (TextOps.ccOracleSql +
      """
      |SELECT cl.cluster AS cluster_rep, CAST(COUNT(*) AS BIGINT) AS n_members,
      |  arg_max(d.doc_id, d.n_chars * 100000000 - d.doc_id) AS keep_doc_id,
      |  MAX(d.n_chars) AS keep_n_chars,
      |  CAST(COUNT(*) - 1 AS BIGINT) AS n_dropped
      |FROM cl JOIN documents d ON d.doc_id = cl.node
      |GROUP BY cl.cluster
      |ORDER BY cluster_rep""").stripMargin) { (s, d) =>
    val key = struct(col("n_chars").as("q"), (-col("doc_id")).as("tb"))
    DedupClusters.clusterLabels(s, d)
      .join(Tables.documents(s, d).select(col("doc_id"), col("n_chars")),
        col("node") === col("doc_id"))
      .groupBy(col("label").as("cluster_rep"))
      .agg(count(lit(1)).as("n_members"),
        max_by(col("doc_id"), key).as("keep_doc_id"),
        max(col("n_chars")).as("keep_n_chars"),
        (count(lit(1)) - 1).as("n_dropped"))
      .orderBy(col("cluster_rep"))
  }

  /** SemDeDup-style semantic pruning: inside each embedding cluster
    * (the `label` column — at production scale the k-means/IVF
    * assignment q80/q49 compute), drop every vector that has a LOWER-id
    * clustermate with cosine ≥ 0.35, keep the rest; report the per-
    * cluster keep/drop ledger. The pairwise work is CLUSTER-CONFINED —
    * the whole point of SemDeDup: compare within lists of bounded size,
    * never corpus × corpus. Cosines come from the codegen'd fused
    * `graft_cosine` over natively-cast `array<double>` inputs (Spark's
    * Cast is codegen'd elementwise — no interpreted `transform` pass)
    * and the threshold compares the RAW double on both engines —
    * bit-identical arithmetic, the q42-proven recipe.
    */
  val semdedupPrune = Q(
    "q133_semdedup_prune",
    s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |${LshGuard.capCteSql("ecap", "e", Seq("vec_id", "label", "v"), Seq("label"), "vec_id")},
      |drops AS (
      |  SELECT DISTINCT b.label, b.vec_id
      |  FROM ecap a JOIN ecap b ON a.label = b.label AND a.vec_id < b.vec_id
      |  WHERE list_dot_product(a.v, b.v)
      |      / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
      |    >= 0.35)
      |SELECT e.label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
      |  CAST(COUNT(dr.vec_id) AS BIGINT) AS n_dropped,
      |  CAST(COUNT(*) - COUNT(dr.vec_id) AS BIGINT) AS n_kept
      |FROM e LEFT JOIN drops dr ON dr.label = e.label AND dr.vec_id = e.vec_id
      |GROUP BY e.label
      |ORDER BY e.label""".stripMargin) { (s, d) =>
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("label"),
      col("embedding").cast("array<double>").as("v"))
    // hot-cluster guard (CorpusPipeline stage 3b's shape): cap membership
    // per cluster before the pairwise join — the uncapped e still counts
    // n_vecs, so the cap only bounds the comparison fan-out
    val ec = LshGuard.capBuckets(s, e, Seq("label"), "vec_id",
      tag = "semdedup-q133")
    val a = ec.select(col("label").as("la"), col("vec_id").as("ida"), col("v").as("va"))
    val b = ec.select(col("label").as("lb"), col("vec_id").as("idb"), col("v").as("vb"))
    val drops = a.join(b, col("la") === col("lb") && col("ida") < col("idb"))
      .filter(CosineSim.cosine(col("va"), col("vb")) >= 0.35)
      .select(col("lb").as("label"), col("idb").as("vec_id"))
      .distinct()
    e.select(col("label"), col("vec_id"))
      .join(drops.withColumn("hit", lit(1)), Seq("label", "vec_id"), "left")
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"), count(col("hit")).as("n_dropped"),
        (count(lit(1)) - count(col("hit"))).as("n_kept"))
      .orderBy(col("label"))
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
      .select(col("doc_id"), col("source"), Advanced5.splitLabel.as("split"))
    val grams = Advanced9.spanTable(s, d).join(meta, Seq("doc_id"))
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

  val specs: Seq[Q] = Seq(fullMoments, lexicalDiversity, clusterKeepBest,
    semdedupPrune, splitContamination, bpeEncode, bpePacking, bpeFertility)
}
