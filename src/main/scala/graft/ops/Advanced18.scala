package graft.ops

import graft.{Q, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-11 continuation: the two tokenization-adjacent reshapes every
  * LM data pipeline runs between curation and the trainer.
  *
  *  - q179 OVERLAPPING CHUNKING: split each document into fixed-size
  *    token windows with a stride (chunk i covers tokens
  *    [i·stride, i·stride + size)), the unit RAG embeddings and long-doc
  *    indexing operate on. Chunk count per doc is closed-form
  *    (1 + max(0, ceil((n − size)/stride))), the starts explode from a
  *    codegen'd `sequence`, and each chunk carries provenance (doc_id,
  *    start offset) plus an md5 content digest so a receiving side can
  *    verify chunks independently. Rows ∝ corpus tokens / stride;
  *    nothing shuffles until a consumer aggregates.
  *  - q180 SEQUENCE PACKING (concat-and-split): lay all documents out on
  *    one token axis in doc_id order and cut it every `seqLen` tokens —
  *    exactly how LM trainers pack heterogeneous documents into
  *    fixed-length sequences. Each doc's token span [cum, cum+n) maps to
  *    sequences floor(cum/L)..floor((cum+n−1)/L); the per-(doc, seq)
  *    contribution is the interval overlap, all integer arithmetic. The
  *    global running sum orders doc METADATA only (doc_id, n_toks) and
  *    runs in [[GlobalOrder]]'s two-phase distributed form (range
  *    partials + broadcast prefix offsets — no single-partition
  *    window). Output is the per-sequence composition a trainer
  *    audits: fill (always exactly L except the tail), document count,
  *    and how many docs were split across a boundary.
  */
object Advanced18 {

  // ---------------------------------------------------------------- q179

  private val ChunkSize   = 64
  private val ChunkStride = 48

  /** Library form: overlapping token chunks of `docs(doc_id, text)`.
    * Emits (doc_id, chunk_id, start_tok, n_chunk_toks, chunk_md5).
    */
  private[graft] def chunkDocs(docs: DataFrame, chunk: Int, stride: Int): DataFrame = {
    require(stride >= 1 && chunk >= stride,
      s"need 1 <= stride <= chunk, got chunk=$chunk stride=$stride")
    // nc = 1 + max(0, ceil((n - chunk)/stride)) = 1 + max(0, (n - chunk + stride - 1) div stride)
    val withN = TextOps.withToks(docs)
      .select(col("doc_id"), col("toks"), size(col("toks")).as("n"))
      .withColumn("nc",
        lit(1) + greatest(lit(0), expr(s"(n - $chunk + ${stride - 1}) div $stride")))
    withN
      .select(col("doc_id"), col("toks"), col("n"),
        explode(sequence(lit(0), col("nc") - 1)).as("chunk_id"))
      .select(col("doc_id"), col("chunk_id"),
        (col("chunk_id") * stride).as("start_tok"),
        least(lit(chunk), col("n") - col("chunk_id") * stride).as("n_chunk_toks"),
        md5(array_join(slice(col("toks"), (col("chunk_id") * stride + 1).cast("int"), lit(chunk)), " "))
          .as("chunk_md5"))
  }

  /** q179: 64-token chunks at stride 48 (16-token overlap) over
    * `documents`, with per-chunk provenance and content digest.
    */
  val chunking = Q(
    "q179_chunking",
    s"""WITH t AS (
       |  SELECT doc_id, string_split(text, ' ') AS tk,
       |    len(string_split(text, ' ')) AS n
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, tk, n,
       |    unnest(generate_series(0,
       |      GREATEST(0, (n - $ChunkSize + ${ChunkStride - 1}) // $ChunkStride))) AS chunk_id
       |  FROM t)
       |SELECT doc_id, CAST(chunk_id AS INTEGER) AS chunk_id,
       |  CAST(chunk_id * $ChunkStride AS INTEGER) AS start_tok,
       |  CAST(LEAST($ChunkSize, n - chunk_id * $ChunkStride) AS INTEGER) AS n_chunk_toks,
       |  md5(array_to_string(tk[chunk_id * $ChunkStride + 1 :
       |    chunk_id * $ChunkStride + $ChunkSize], ' ')) AS chunk_md5
       |FROM c ORDER BY doc_id, chunk_id""".stripMargin) { (s, d) =>
    chunkDocs(Tables.documents(s, d), ChunkSize, ChunkStride)
      .select(col("doc_id"), col("chunk_id").cast("int").as("chunk_id"),
        col("start_tok").cast("int").as("start_tok"),
        col("n_chunk_toks").cast("int").as("n_chunk_toks"),
        col("chunk_md5"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  // ---------------------------------------------------------------- q180

  private val SeqLen = 128

  /** Library form: concat-and-split packing of `toks(doc_id, n_toks)`
    * into `seqLen`-token sequences in doc_id order. One row per
    * (doc, sequence) fragment with the token contribution.
    */
  private[graft] def packSequences(toks: DataFrame, seqLen: Int): DataFrame = {
    // Global prefix sum in GlobalOrder's two-phase distributed form
    // (range partials + broadcast offsets) — no single-partition window.
    GlobalOrder.runningSum(toks, Seq(col("doc_id")), col("n_toks"), "cum_end")
      .withColumn("cum", col("cum_end") - col("n_toks"))
      .filter(col("n_toks") > 0)
      .withColumn("seq_id",
        explode(sequence(expr(s"cum div $seqLen"), expr(s"(cum_end - 1) div $seqLen"))))
      .withColumn("contrib",
        least(col("cum_end"), (col("seq_id") + 1) * seqLen) -
          greatest(col("cum"), col("seq_id") * seqLen))
  }

  /** q180: 128-token sequence packing audit — per-sequence fill (exactly
    * 128 everywhere but the tail), document count, split-document count,
    * and the id range of contributing docs.
    */
  val sequencePack = Q(
    "q180_sequence_pack",
    s"""WITH t AS (
       |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, n_toks,
       |    CAST(SUM(n_toks) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_end,
       |    CAST(SUM(n_toks) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_toks AS BIGINT) AS cum
       |  FROM t),
       |f AS (
       |  SELECT doc_id, n_toks, cum, cum_end,
       |    unnest(generate_series(cum // $SeqLen, (cum_end - 1) // $SeqLen)) AS seq_id
       |  FROM c WHERE n_toks > 0),
       |g AS (
       |  SELECT doc_id, n_toks, seq_id,
       |    LEAST(cum_end, (seq_id + 1) * $SeqLen) - GREATEST(cum, seq_id * $SeqLen) AS contrib
       |  FROM f)
       |SELECT CAST(seq_id AS BIGINT) AS seq_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(contrib) AS BIGINT) AS n_toks,
       |  CAST(SUM(CASE WHEN contrib < n_toks THEN 1 ELSE 0 END) AS BIGINT) AS n_split_docs,
       |  CAST(MIN(doc_id) AS BIGINT) AS first_doc,
       |  CAST(MAX(doc_id) AS BIGINT) AS last_doc
       |FROM g GROUP BY seq_id ORDER BY seq_id""".stripMargin) { (s, d) =>
    val toks = Tables.documents(s, d)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_toks"))
    packSequences(toks, SeqLen)
      .groupBy(col("seq_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("contrib")).as("n_toks"),
        sum(when(col("contrib") < col("n_toks"), 1L).otherwise(0L)).as("n_split_docs"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy(col("seq_id"))
  }

  // ---------------------------------------------------------------- q181

  private val CurriculumBins = 4

  /** q181: CURRICULUM BINNING — quartile the corpus by q154's
    * interpolated bigram-LM mean transition score (highest = most
    * predictable = "easiest" first), the assignment a curriculum
    * scheduler feeds the trainer. Composes the SHARED q154 machinery on
    * both sides: Spark re-runs [[Advanced15.bigramLmScore]]'s exact
    * integer-ppm pipeline ([[LmModel.modelTables]] — one model-build
    * path), the oracle re-uses [[Advanced15.lmOracleCore]] verbatim and
    * adds one NTILE. Docs without transitions (single-token) are out of
    * scope on both sides, exactly as in q154. The NTILE is computed
    * WITHOUT a global window: [[GlobalOrder.rank]] on (mean_ppm desc,
    * doc_id) — the two-phase distributed form — plus
    * [[GlobalOrder.ntileFromRank]]'s closed form of (rank, total),
    * which reproduces SQL NTILE's first-buckets-larger split exactly.
    */
  val curriculumBins = Q(
    "q181_curriculum_bins",
    (s"WITH ${Advanced15.lmOracleCore("documents")}" +
      s""",
      |sc AS (SELECT g.doc_id,
      |         ${Advanced15.hudSql("9 * e.p_cond + e.p_uni", "10")} AS s
      |       FROM cbg g JOIN bie e ON e.w1 = g.w1 AND e.w2 = g.w2
      |       WHERE g.w2 IS NOT NULL),
      |agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_trans,
      |          CAST((2 * SUM(s) + COUNT(*)) // (2 * COUNT(*)) AS BIGINT) AS mean_ppm
      |        FROM sc GROUP BY doc_id)
      |SELECT doc_id, n_trans, mean_ppm,
      |  CAST(NTILE($CurriculumBins) OVER (ORDER BY mean_ppm DESC, doc_id) AS INTEGER) AS bin
      |FROM agg ORDER BY doc_id""").stripMargin) { (s, d) =>
    val scored = Advanced15.bigramLmScore.run(s, d)
      .select(col("doc_id"), col("n_trans"), col("mean_ppm"))
      .localCheckpoint(true) // feeds rank partials + total + output: 3 reads
    val ranked = GlobalOrder.rank(scored,
      Seq(col("mean_ppm").desc, col("doc_id")), "__rnk")
    val n = scored.agg(count(lit(1)).as("__n"))
    GlobalOrder.ntileFromRank(
        ranked.crossJoin(broadcast(n)), "__rnk", "__n", CurriculumBins, "bin")
      .drop("__rnk", "__n")
      .orderBy(col("doc_id"))
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

  // ---------------------------------------------------------------- q184

  private val SpanSize = 16

  /** q184: BOILERPLATE SPAN DETECTION — non-overlapping 16-token spans
    * ([[chunkDocs]] at stride = size) fingerprinted by md5 and grouped
    * across the corpus; a span appearing in >1 document is shared
    * boilerplate (headers, templates, license blocks). The scale shape
    * is exact dedup's (q30) applied to span fingerprints: one explode
    * pass, one map-side-combinable groupBy on the 32-char hash — spans
    * never pair with each other, so nothing is quadratic in the
    * boilerplate frequency.
    */
  val boilerplateSpans = Q(
    "q184_boilerplate_spans",
    s"""WITH t AS (
       |  SELECT doc_id, string_split(text, ' ') AS tk,
       |    len(string_split(text, ' ')) AS n
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, tk, n,
       |    unnest(generate_series(0,
       |      GREATEST(0, (n - $SpanSize + ${SpanSize - 1}) // $SpanSize))) AS chunk_id
       |  FROM t),
       |ch AS (
       |  SELECT doc_id,
       |    md5(array_to_string(tk[chunk_id * $SpanSize + 1 :
       |      chunk_id * $SpanSize + $SpanSize], ' ')) AS span_md5
       |  FROM c)
       |SELECT span_md5,
       |  CAST(COUNT(*) AS BIGINT) AS n_spans,
       |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       |  CAST(MIN(doc_id) AS BIGINT) AS first_doc
       |FROM ch GROUP BY span_md5
       |HAVING COUNT(DISTINCT doc_id) > 1
       |ORDER BY n_docs DESC, n_spans DESC, span_md5""".stripMargin) { (s, d) =>
    chunkDocs(Tables.documents(s, d), SpanSize, SpanSize)
      .groupBy(col("chunk_md5").as("span_md5"))
      .agg(count(lit(1)).as("n_spans"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(col("doc_id")).as("first_doc"))
      .filter(col("n_docs") > 1)
      .orderBy(col("n_docs").desc, col("n_spans").desc, col("span_md5"))
  }

  val specs: Seq[Q] = Seq(chunking, sequencePack, curriculumBins, ngramDiversity,
    boilerplateSpans)
}
