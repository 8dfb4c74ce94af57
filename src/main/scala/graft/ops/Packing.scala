package graft.ops

import graft.{Det, Q, Tables}
import graft.functions.CosineSim
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Packing, chunking and shards: padding waste, sequence packing and
  * packing sweeps, document chunking, context packing under a token
  * budget, and balanced / hashed shard manifests.
  */
object Packing {

  /** Padding-waste report: what fixed-size batches of 8 docs pay in pad
    * tokens under doc_id-order batching versus length-sorted batching —
    * the measurement behind the length-bucketing trick every training
    * stack uses. Batches form per LANGUAGE (the window key is the
    * bucketing key — at corpus scale the same windows run per shard,
    * q68's packing layout); waste per batch is
    * `count·max(len) − sum(len)`. Exact integers end to end; ties in
    * the sorted order break on doc_id so both engines batch
    * identically. `saving` CAN be negative — sorted batching loses
    * when a heavy tail straddles the final partial batch — so the
    * oracle spells [[Det.halfUpDiv]]'s sign term (the Tables.scala
    * negative-capable rule).
    */
  val paddingWaste = Q(
    "q137_padding_waste",
    """WITH d AS (SELECT doc_id, lang,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
      |  FROM documents),
      |nb AS (SELECT doc_id, lang, n_toks,
      |    (ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) - 1) // 8 AS b
      |  FROM d),
      |sb AS (SELECT doc_id, lang, n_toks,
      |    (ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_toks, doc_id) - 1) // 8 AS b
      |  FROM d),
      |nw AS (SELECT lang, CAST(SUM(cnt * mx - sm) AS BIGINT) AS pad FROM (
      |    SELECT lang, b, COUNT(*) AS cnt, MAX(n_toks) AS mx,
      |      CAST(SUM(n_toks) AS BIGINT) AS sm FROM nb GROUP BY lang, b) q GROUP BY lang),
      |sw AS (SELECT lang, CAST(SUM(cnt * mx - sm) AS BIGINT) AS pad FROM (
      |    SELECT lang, b, COUNT(*) AS cnt, MAX(n_toks) AS mx,
      |      CAST(SUM(n_toks) AS BIGINT) AS sm FROM sb GROUP BY lang, b) q GROUP BY lang),
      |t AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |    CAST(SUM(n_toks) AS BIGINT) AS n_toks FROM d GROUP BY lang)
      |SELECT t.lang, t.n_docs, t.n_toks,
      |  nw.pad AS pad_naive, sw.pad AS pad_sorted,
      |  (2 * (nw.pad - sw.pad) * 1000
      |     + CASE WHEN nw.pad < sw.pad THEN -GREATEST(nw.pad, 1)
      |            ELSE GREATEST(nw.pad, 1) END)
      |    // (2 * GREATEST(nw.pad, 1)) / 1000.0 AS saving
      |FROM t JOIN nw USING (lang) JOIN sw USING (lang)
      |ORDER BY lang""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_toks"))
    def waste(order: Seq[org.apache.spark.sql.Column]): org.apache.spark.sql.DataFrame =
      docs.withColumn("rn",
          row_number().over(Window.partitionBy(col("lang")).orderBy(order: _*)))
        .withColumn("b", expr("CAST(rn - 1 AS BIGINT) DIV 8"))
        .groupBy(col("lang"), col("b"))
        .agg(count(lit(1)).as("cnt"), max(col("n_toks")).as("mx"),
          sum(col("n_toks")).as("sm"))
        .groupBy(col("lang"))
        .agg(sum(col("cnt") * col("mx") - col("sm")).as("pad"))
    val naive = waste(Seq(col("doc_id"))).withColumnRenamed("pad", "pad_naive")
    val sorted = waste(Seq(col("n_toks"), col("doc_id")))
      .withColumnRenamed("pad", "pad_sorted")
    docs.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_toks"))
      .join(naive, Seq("lang")).join(sorted, Seq("lang"))
      .select(col("lang"), col("n_docs"), col("n_toks"),
        col("pad_naive"), col("pad_sorted"),
        (Det.halfUpDiv((col("pad_naive") - col("pad_sorted")) * 1000,
          greatest(col("pad_naive"), lit(1L))) / 1000.0).as("saving"))
      .orderBy(col("lang"))
  }

  // ---------------------------------------------------------------- q172

  private val NumShards = 16

  /** q172: deterministic 16-shard export manifest over `documents`.
    * Shard assignment salts the md5 ('shard:' prefix — disjoint from
    * every other hash-slice family in the registry), so it is
    * independent of the q87 split / q60 sample memberships.
    *
    * The per-shard content checksum is an XOR-fold (`bit_xor`) of each
    * document's 48-bit md5 prefix: order-independent, BIGINT-exact in
    * both engines, and — because XOR never leaves the 48-bit domain —
    * the value stays below 2^53, so it survives ANY reader
    * canonicalization (including a float64 path) bit-exactly. The
    * previous DECIMAL(38,0) SUM carried integers past 2^53 and failed
    * the driver's hash gate despite exact cell-level equality
    * (round-11 adjudication).
    */
  val shardManifest = Q(
    "q172_shard_manifest",
    s"""WITH s AS (
       |  SELECT doc_id, text, n_chars,
       |    ('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT % $NumShards AS shard
       |  FROM documents)
       |SELECT shard,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_toks,
       |  CAST(MIN(doc_id) AS BIGINT) AS min_doc,
       |  CAST(MAX(doc_id) AS BIGINT) AS max_doc,
       |  bit_xor(('0x' || substr(md5(text), 1, 12))::BIGINT) AS checksum
       |FROM s GROUP BY shard ORDER BY shard""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .withColumn("shard",
        expr(s"CAST(conv(substr(md5(concat('shard:', CAST(doc_id AS STRING))), 1, 7), 16, 10) AS BIGINT) % $NumShards"))
      .groupBy(col("shard"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("sum_chars"),
        sum(size(split(col("text"), " ")).cast("long")).as("sum_toks"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"),
        expr("bit_xor(CAST(conv(substr(md5(text), 1, 12), 16, 10) AS BIGINT))")
          .as("checksum"))
      .orderBy(col("shard"))
  }

  // ---------------------------------------------------------------- q173

  private val PackBudget    = 512

  private val PackShortlist = 20

  /** Library form: cut a per-query ranked shortlist `ranked(qid, rnk,
    * doc_id)` to a running token budget using `toks(doc_id, n_toks)`.
    * Prefix packing — documents enter in rank order until the budget is
    * exhausted (the first overflow stops the pack; no skip-and-continue,
    * which would be order-sensitive under near-budget ties).
    */
  private[graft] def packContext(ranked: DataFrame, toks: DataFrame,
      budget: Int): DataFrame = {
    val w = Window.partitionBy(col("qid")).orderBy(col("rnk"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked.join(toks, Seq("doc_id"))
      .withColumn("cum_toks", sum(col("n_toks")).over(w))
      .filter(col("cum_toks") <= budget)
  }

  /** q173: RAG context packing — cosine top-20 shortlist per query
    * (vec_id < 5), documents packed in rank order into a 512-token
    * budget. doc_id ↔ vec_id is the corpus key (q147's convention).
    */
  val contextPack = Q(
    "q173_context_pack",
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5),
       |sims AS (
       |  SELECT qid, e.vec_id AS doc_id, ${Retrieval.cosSql("qv", "v")} AS sim
       |  FROM q CROSS JOIN e WHERE e.vec_id <> qid),
       |short AS (
       |  SELECT qid, doc_id, sim,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, doc_id) AS INTEGER) AS rnk
       |  FROM sims QUALIFY rnk <= $PackShortlist),
       |toks AS (
       |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
       |  FROM documents),
       |packed AS (
       |  SELECT s.qid, s.rnk, s.doc_id, t.n_toks, s.sim,
       |    CAST(SUM(t.n_toks) OVER (PARTITION BY s.qid ORDER BY s.rnk
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_toks
       |  FROM short s JOIN toks t USING (doc_id))
       |SELECT qid, rnk, doc_id, n_toks, cum_toks, sim FROM packed
       |WHERE cum_toks <= $PackBudget ORDER BY qid, rnk""".stripMargin) { (s, d) =>
    val e = Tables.vectors(s, d)
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val wr = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("doc_id"))
    val short = e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("doc_id"),
        round(CosineSim.cosine(col("qv"), col("v")), 6).as("sim"))
      .withColumn("rnk", row_number().over(wr))
      .filter(col("rnk") <= PackShortlist)
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_toks"))
    packContext(short, toks, PackBudget)
      .select(col("qid"), col("rnk"), col("doc_id"), col("n_toks"),
        col("cum_toks"), col("sim"))
      .orderBy(col("qid"), col("rnk"))
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

  val specs: Seq[Q] = Seq(paddingWaste, shardManifest, contextPack,
    balancedShards, balancedManifest, chunking, sequencePack, packingSweep)
}
