package graft.ops

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus release upgrades — incremental index maintenance under corpus
  * versioning: given two corpus versions, compute the id delta once
  * ([[SnapshotDiff.diff]], digest-only join) and roll every persistent
  * serving index forward WITHOUT a from-scratch rebuild.
  *
  * Work per release at 100 TB:
  *  - delta: one digest-only full-outer join (zero-shuffle when the
  *    snapshots are id-bucketed);
  *  - deletes (removed ∪ changed ids): O(batch) tombstone appends;
  *  - appends (added ∪ changed ids): O(delta) rows semi-joined out of
  *    the new corpus, encoded with the index's frozen quantizers /
  *    serve-time df arithmetic.
  *
  * Text/dedup upgrades are O(delta) END TO END ([[Tombstones]]): a
  * tombstone records the epoch it was laid at, so changed ids re-append
  * at a fresh epoch WITHOUT a compaction, and the table rewrite
  * amortizes across releases via the auto-compact threshold instead of
  * landing on every one. That replaces the original compact-per-release
  * recipe, which BENCH.md round 10 measured REBUILD-PRICED for
  * text/dedup (the postings/bands rewrite is corpus-order I/O — the one
  * linear term dominated everything the delta math saved). Every
  * upgrade takes the current index format only; an older layout is
  * refused by the [[Tombstones.readBuckets]] format gate. ANN keeps
  * compact-per-release deliberately: its compaction rewrites 4-byte
  * codes (a genuinely reduced table, 100-1000× smaller I/O than the
  * vectors) and the upgrade already beats a fresh rebuild because the
  * frozen quantizers skip the Lloyd retrain (measured 3.7 vs 4.6 s).
  *
  * Equivalence contracts (ReleaseSpec): an upgraded [[TextIndex]] ranks
  * BIT-IDENTICALLY to a fresh build over the new corpus (BM25's df and
  * avgdl are derived at serve time, so append/delete compose exactly).
  * An upgraded [[AnnIndex]] keeps its v1-trained quantizers (the
  * production append contract — periodic [[AnnIndex.write]] rebuilds
  * absorb quantizer drift), so the spec asserts surface properties:
  * removed ids unfindable, changed vectors retrieve their new selves,
  * row parity with the new corpus.
  */
object Release {

  /** Id delta between versions, one single-column (`id`) frame per class.
    * Frames are materialized (localCheckpoint) so the three consumers
    * don't re-run the diff join.
    */
  case class Delta(added: DataFrame, changed: DataFrame, removed: DataFrame) {
    def summary: (Long, Long, Long) = (added.count(), changed.count(), removed.count())
  }

  /** Classify ids across versions by content digest. `digest`/`sizeCol`
    * follow [[SnapshotDiff.diff]]'s contract (unbound columns over each
    * version's schema).
    */
  def delta(oldDf: DataFrame, newDf: DataFrame, idCol: String,
      digest: Column): Delta = {
    val d = SnapshotDiff.diff(oldDf, newDf, idCol, digest, lit(0))
      .select(col(idCol).as("id"), col("status"))
      .filter(col("status") =!= "unchanged")
      .localCheckpoint(true)
    def ids(st: String) = d.filter(col("status") === st).select(col("id"))
    Delta(ids("added"), ids("changed"), ids("removed"))
  }

  /** Roll a persisted [[TextIndex]] from the old corpus to `newCorpus`:
    * tombstone removed ∪ changed, then append added ∪ changed rows
    * semi-joined from the new corpus — O(delta), no compaction (see
    * object doc). Returns the upgraded index —
    * bit-identical to `TextIndex.write` over `newCorpus` (spec-pinned).
    */
  def upgradeTextIndex(s: SparkSession, dir: String, newCorpus: DataFrame,
      d: Delta): TextIndex.Index = {
    val gone = d.removed.unionByName(d.changed).select(col("id").as("doc_id"))
    // refresh = false: the append below refreshes stats from the
    // post-append live set; nothing serves between the two (round 18)
    TextIndex.delete(s, dir, gone, Tombstones.AutoCompactRows, refresh = false)
    val freshIds = d.added.unionByName(d.changed).select(col("id").as("doc_id"))
    TextIndex.append(s, dir, newCorpus.join(freshIds, Seq("doc_id"), "left_semi"))
  }

  /** Roll a persisted [[AnnIndex]] to `newVectors(vec_id, v)`: tombstone
    * removed ∪ changed, compact once, append added ∪ changed vectors
    * encoded with the index's frozen quantizers.
    */
  def upgradeAnnIndex(s: SparkSession, dir: String, newVectors: DataFrame,
      d: Delta): AnnIndex.Index = {
    val gone = d.removed.unionByName(d.changed).select(col("id").as("vec_id"))
    AnnIndex.delete(s, dir, gone)
    AnnIndex.compact(s, dir)
    val freshIds = d.added.unionByName(d.changed).select(col("id").as("vec_id"))
    AnnIndex.append(s, dir, newVectors.join(freshIds, Seq("vec_id"), "left_semi"))
  }

  /** Roll a persisted [[DedupIndex]] to `newCorpus`: tombstone, then
    * append — O(delta), as in [[upgradeTextIndex]]. The signature hash is
    * stateless (no trained quantizer), so the upgraded index serves
    * EXACTLY as a fresh `DedupIndex.write` over `newCorpus` —
    * ReleaseSpec pins bit-identical [[DedupIndex.queryBatch]] results.
    */
  def upgradeDedupIndex(s: SparkSession, dir: String, newCorpus: DataFrame,
      d: Delta): DedupIndex.Index = {
    val gone = d.removed.unionByName(d.changed).select(col("id").as("doc_id"))
    DedupIndex.delete(s, dir, gone)
    val freshIds = d.added.unionByName(d.changed).select(col("id").as("doc_id"))
    DedupIndex.append(s, dir, newCorpus.join(freshIds, Seq("doc_id"), "left_semi"))
  }

  /** Roll a persisted [[LmModel]] to `newCorpus` by exact count
    * algebra: subtract the removed ∪ changed docs' OLD transition
    * counts (which is why this upgrade, unlike the index ones, needs
    * `oldCorpus` — tombstoning by id cannot un-count content), add the
    * added ∪ changed docs' new counts. Counts are additive longs, so
    * the upgraded model is BIT-IDENTICAL to a fresh train over
    * `newCorpus` (ReleaseSpec pins scoreBatch equality). Cost: two
    * snapshot semi-joins (checkpointed batch-sized), delta
    * tokenization, one model-table-sized merge — never a corpus scan.
    */
  def upgradeLmModel(s: SparkSession, dir: String, oldCorpus: DataFrame,
      newCorpus: DataFrame, d: Delta): Unit = graft.Reliable.scoped {
    val gone = d.removed.unionByName(d.changed).select(col("id").as("doc_id"))
    val freshIds = d.added.unionByName(d.changed).select(col("id").as("doc_id"))
    // batch-sized materialization: LmModel.upgrade scans each delta side
    // twice (bigram + unigram counts) — without the checkpoint each scan
    // would re-run the semi-join over the full snapshot
    val rem = graft.Reliable.owned(oldCorpus.join(gone, Seq("doc_id"), "left_semi"))
    val add = graft.Reliable.owned(newCorpus.join(freshIds, Seq("doc_id"), "left_semi"))
    LmModel.upgrade(s, dir, addDocs = add, removeDocs = rem)
  }

  // ------------------------------------------------- oracle-gated upgrades
  //
  // q164/q165/q166 put the three index upgrade paths under the hard gate
  // the way q163 gated the LM's: the Spark side runs the REAL persisted
  // lifecycle on a temp dir — build the v1 index with the production
  // write path, compute the digest delta, roll it forward with the same
  // upgradeTextIndex/upgradeDedupIndex/upgradeAnnIndex a deployment
  // calls (epoch tombstones, done-marker anti-joins, frozen quantizers
  // and all) — while the ORACLE builds fresh from v2 and never sees the
  // delta algebra, the tombstone ledger, or the epoch liveness rule.
  // Hash equality on the serve surface proves upgrade ≡ rebuild end to
  // end through the actual parquet layouts, not an in-memory emulation.
  //
  // Shared fixture (the q163 version scheme, all classes non-empty at
  // every SF): v1 = corpus without doc_id%17=5; v2 = corpus without
  // doc_id%19=3, "rev dup "-prefixed when doc_id%13=0 (the extra "dup"
  // token shifts the revised docs' BM25 and shingle sets, so a missed
  // re-encode cannot hash-match).

  private def docVersions(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    // Shared fixture frames: five queries (q164–q166, q191, q196) replay
    // this version scheme; materialize each side once per session instead
    // of re-checkpointing per query (Shared.localCheckpoints the build).
    val v1 = graft.Shared.materialized(s, s"relver-v1@$d") {
      Tables.documents(s, d).filter(col("doc_id") % 17 =!= 5)
    }
    val v2 = graft.Shared.materialized(s, s"relver-v2@$d") {
      Tables.documents(s, d).filter(col("doc_id") % 19 =!= 3)
        .withColumn("text",
          when(col("doc_id") % 13 === 0, concat(lit("rev dup "), col("text")))
            .otherwise(col("text")))
    }
    (v1, v2)
  }

  private val docV2Cte =
    """v2 AS (SELECT doc_id,
      |    CASE WHEN doc_id % 13 = 0 THEN 'rev dup ' || text ELSE text END AS text
      |  FROM documents WHERE doc_id % 19 != 3)""".stripMargin

  // ------------------------------------------------ session-shared fixture
  //
  // Round 18 (the r17 verdict's item 2): q164/q165/q166 each rebuilt
  // their v1 index FROM SCRATCH on every invocation — 72.8 s of the r17
  // driver one-shot window and the registry's only >2 s steady (q165)
  // — even though the v1 corpus is a fixed derivation of `documents`.
  // The v1 LAYOUTS (TextIndex/DedupIndex/AnnIndex over v1) and the
  // version DELTAS are now built once per (session, sf) under
  // [[graft.Shared.materialized]] and filesystem-CLONED per invocation
  // (q209's proven pattern, RetrainFlow.sharedAnnCycle): the builds are
  // deterministic functions of the corpus, so the clone is byte-
  // identical to the fresh build it replaces, and each invocation still
  // runs the FULL live upgrade (epoch tombstones, O(delta) append,
  // frozen-quantizer encode) against its own private copy. Oracles are
  // byte-unchanged; the per-invocation saving is exactly the amortized
  // v1 build.

  /** Session-shared deterministic delta (the digest diff is the same
    * frame every invocation). Returns lazily-filtered views over one
    * checkpointed status frame, like [[delta]].
    */
  private def sharedDelta(s: SparkSession, key: String, oldDf: DataFrame,
      newDf: DataFrame, idCol: String, digest: Column): Delta = {
    val dd = graft.Shared.materialized(s, key) {
      SnapshotDiff.diff(oldDf, newDf, idCol, digest, lit(0))
        .select(col(idCol).as("id"), col("status"))
        .filter(col("status") =!= "unchanged")
    }
    def ids(st: String) = dd.filter(col("status") === st).select(col("id"))
    Delta(ids("added"), ids("changed"), ids("removed"))
  }

  private def docsDelta(s: SparkSession, d: String): Delta = {
    val (v1, v2) = docVersions(s, d)
    sharedDelta(s, s"relver-delta-docs@$d", v1, v2, "doc_id", md5(col("text")))
  }

  /** Build a v1 index layout once per (session, key); return a fresh
    * private CLONE per call, so the caller's upgrade mutates its own
    * copy while the shared build amortizes across invocations.
    */
  private def clonedV1Layout(s: SparkSession, key: String, prefix: String)(
      build: String => Unit): String = {
    import s.implicits._
    val base = graft.Shared.materialized(s, key) {
      val dir = graft.TempDirs.create(prefix + "_v1") + "/ix"
      build(dir)
      Seq(dir).toDF("dir")
    }.collect()(0).getString(0)
    val dst = graft.TempDirs.create(prefix) + "/ix"
    RetrainFlow.linkCloneDir(s, base, dst)
    dst
  }

  /** [[upgradeTextIndex]] under the hard gate: v1 built by
    * [[TextIndex.writeDocs]], rolled to v2 through the epoch-tombstone
    * delete + O(delta) append, then served with [[TextIndex.search]]
    * (df and avgdl derived from the LIVE postings/doclens — the
    * statistics a stale upgrade would corrupt first). The oracle
    * computes BM25 directly over v2 with q146's generated CTE chain.
    */
  val textReleaseUpgrade = Q(
    "q164_text_release_upgrade",
    s"""WITH $docV2Cte,
      |${Retrieval.bm25AggCtes(Retrieval.BmQueryTerms, "v2")},
      |r AS (
      |  SELECT doc_id, bm25,
      |    CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS INTEGER) AS rnk
      |  FROM agg)
      |SELECT rnk, doc_id, bm25 FROM r WHERE rnk <= 20 ORDER BY rnk""".stripMargin) { (s, d) =>
    val (v1, v2) = docVersions(s, d)
    val dir = clonedV1Layout(s, s"relver-v1-tix@$d", "graft_q164_tix") { p =>
      TextIndex.writeDocs(s, v1, p)
    }
    val ix = upgradeTextIndex(s, dir, v2, docsDelta(s, d))
    TextIndex.search(s, ix, Retrieval.BmQueryTerms, 20)
  }

  /** [[upgradeDedupIndex]] under the hard gate: v1 built by
    * [[DedupIndex.write]], rolled to v2, then near-dup-checked with the
    * production [[DedupIndex.queryBatch]] against a probe mixing
    * surviving docs (+100000 — must match their in-index selves,
    * including REVISED content) and REMOVED docs (+200000 — their v1
    * selves must be gone; a missed tombstone surfaces here as an extra
    * est=1.0 pair the fresh-build oracle doesn't have). The oracle
    * replays the full LSH serve composition over v2 ∪ probe.
    */
  val dedupReleaseUpgrade = Q(
    "q165_dedup_release_upgrade",
    (TextOps.lshOracleSql(src = "alldocs", pre =
      docV2Cte + """,
      |probe AS (SELECT doc_id + 100000 AS doc_id, text FROM v2 WHERE doc_id % 23 = 7
      |          UNION ALL
      |          SELECT doc_id + 200000 AS doc_id, text FROM documents
      |          WHERE doc_id % 19 = 3 AND doc_id % 17 != 5),
      |alldocs AS (SELECT doc_id, text FROM v2 UNION ALL SELECT doc_id, text FROM probe),
      |""".stripMargin) +
      """,
      |corpusb AS (SELECT doc_id, b, s1, s2 FROM bands WHERE doc_id < 100000),
      |""" + LshGuard.capCteSql("ccap", "corpusb",
        Seq("doc_id", "b", "s1", "s2"), Seq("b", "s1", "s2"), "doc_id") +
      """,
      |batchb AS (SELECT doc_id, b, s1, s2 FROM bands WHERE doc_id >= 100000),
      |cand AS (
      |  SELECT DISTINCT q.doc_id AS batch_id, c.doc_id AS corpus_id
      |  FROM batchb q JOIN ccap c
      |    ON q.b = c.b AND q.s1 = c.s1 AND q.s2 = c.s2)
      |SELECT batch_id, corpus_id,
      |  ROUND(list_sum(list_transform(range(1, 17),
      |    i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END)) / 16.0, 6) AS est_jaccard
      |FROM cand
      |JOIN sigs sa ON sa.doc_id = batch_id
      |JOIN sigs sb ON sb.doc_id = corpus_id
      |ORDER BY batch_id, corpus_id""").stripMargin) { (s, d) =>
    val (v1, v2) = docVersions(s, d)
    val dir = clonedV1Layout(s, s"relver-v1-dix@$d", "graft_q165_dix") { p =>
      DedupIndex.write(s, v1, p)
    }
    upgradeDedupIndex(s, dir, v2, docsDelta(s, d))
    val probe = v2.filter(col("doc_id") % 23 === 7)
      .withColumn("doc_id", col("doc_id") + 100000L)
      .unionByName(Tables.documents(s, d)
        .filter(col("doc_id") % 19 === 3 && col("doc_id") % 17 =!= 5)
        .withColumn("doc_id", col("doc_id") + 200000L))
    DedupIndex.queryBatch(s, dir, probe)
  }

  /** [[upgradeAnnIndex]] under the hard gate — the frozen-quantizer
    * contract made oracle-checkable: because PQ encoding is a
    * deterministic function of (vector, quantizers), an upgraded index
    * must hold EXACTLY the rows of "assign + encode v2 with the
    * v1-trained quantizers". The Spark side runs the real lifecycle
    * ([[AnnIndex.writeVectors]] on v1 → delete/compact/append) and dumps
    * the full content fingerprint (vec_id, list id, all 4 code blocks);
    * the oracle trains the quantizers on v1 with the generated Lloyd
    * CTE chains and encodes v2 directly — it never sees the delta, the
    * tombstones, or the append path. Changed vectors (+0.25 per
    * component) move to new codes/lists; removed ids must be absent.
    * All-integer output — no float comparison slack anywhere.
    */
  val annReleaseUpgrade = Q(
    "q166_ann_release_upgrade",
    s"""WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |v1 AS (SELECT vec_id, v FROM e0 WHERE vec_id % 17 != 5),
      |v2 AS (SELECT vec_id,
      |    CASE WHEN vec_id % 13 = 0 THEN list_transform(v, x -> x + 0.25) ELSE v END AS v
      |  FROM e0 WHERE vec_id % 19 != 3),
      |${Quantizer.centroidTrainCtes(16, "v1")},
      |${Quantizer.pqTrainCtes(8, "v1")},
      |cents AS (SELECT cid AS c_id, cv FROM ${Quantizer.centFinal}),
      |asg AS (
      |  SELECT q.vec_id, c_id,
      |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
      |      ORDER BY ROUND(list_dot_product(v, cv)
      |        / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(cv, cv))), 6)
      |        DESC, c_id) AS crank
      |  FROM v2 q, cents QUALIFY crank = 1),
      |sub2 AS (
      |  SELECT vec_id, bb.b AS b, list_slice(v, 16*bb.b+1, 16*bb.b+16) AS sv
      |  FROM v2 CROSS JOIN (VALUES (0),(1),(2),(3)) bb(b)),
      |pk2 AS (
      |  SELECT s.vec_id, s.b,
      |    ${Retrieval.distMicroSql("sv", "cv")} * 100 + cid AS pk
      |  FROM sub2 s JOIN ${Quantizer.pqFinal} USING (b)),
      |codes AS (
      |  SELECT vec_id, b, CAST(MIN(pk) % 100 AS INTEGER) AS code
      |  FROM pk2 GROUP BY vec_id, b)
      |SELECT c.vec_id, CAST(a.c_id AS INTEGER) AS c_id,
      |  CAST(c.b AS INTEGER) AS b, c.code
      |FROM codes c JOIN asg a USING (vec_id)
      |ORDER BY vec_id, b""".stripMargin) { (s, d) =>
    val v1 = graft.Shared.materialized(s, s"relver-emb-v1@$d") {
      Tables.vectors(s, d)
        .filter(col("vec_id") % 17 =!= 5)
    }
    val v2 = graft.Shared.materialized(s, s"relver-emb-v2@$d") {
      Tables.vectors(s, d)
        .filter(col("vec_id") % 19 =!= 3)
        .withColumn("v",
          when(col("vec_id") % 13 === 0, transform(col("v"), x => x + lit(0.25)))
            .otherwise(col("v")))
    }
    val dir = clonedV1Layout(s, s"relver-v1-ann@$d", "graft_q166_ann") { p =>
      AnnIndex.writeVectors(s, v1, p)
    }
    val ix = upgradeAnnIndex(s, dir, v2,
      sharedDelta(s, s"relver-delta-emb@$d", v1, v2, "vec_id", xxhash64(col("v"))))
    ix.codes
      .select(col("vec_id"), col("c_id").cast("int").as("c_id"),
        col("b"), col("code"))
      .orderBy(col("vec_id"), col("b"))
  }

  // ---------------------------------------------------------------- q191

  /** Shared oracle core for q191: q172's salted 16-way sharding + XOR
    * 48-bit content checksum, aggregated per shard over a caller-named
    * (doc_id, text) relation.
    */
  private def manifestCte(alias: String, src: String): String =
    s"""$alias AS (
       |  SELECT ('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT % 16 AS shard,
       |    CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_toks,
       |    bit_xor(('0x' || substr(md5(text), 1, 12))::BIGINT) AS checksum
       |  FROM $src GROUP BY 1)""".stripMargin

  private[graft] def manifestOf(docs: DataFrame): DataFrame =
    docs.withColumn("shard",
        expr("CAST(conv(substr(md5(concat('shard:', CAST(doc_id AS STRING))), 1, 7), 16, 10) AS BIGINT) % 16"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("sum_toks"),
        expr("bit_xor(CAST(conv(substr(md5(text), 1, 12), 16, 10) AS BIGINT))").as("checksum"))

  /** q191: MANIFEST DRIFT across a corpus release — q172's per-shard
    * receipt computed on v1 and v2 and diffed: document/token deltas per
    * shard plus a `changed` flag from the XOR content checksums (null-
    * safe, so a shard present on one side only still reports). This is
    * the receipt a downstream consumer checks before deciding which
    * export shards to re-pull after a release — the audit complement of
    * the q164–q166 index upgrades, which the same v1→v2 fixture gates.
    * Scale shape: two manifest aggregations (map-side-combinable) and a
    * 16-row join; the shard assignment is content-independent, so drift
    * localizes to the shards whose documents actually changed.
    */
  val manifestDrift = Q(
    "q191_manifest_drift",
    s"""WITH $docV2Cte,
       |v1 AS (SELECT doc_id, text FROM documents WHERE doc_id % 17 != 5),
       |${manifestCte("m1", "v1")},
       |${manifestCte("m2", "v2")}
       |SELECT COALESCE(m1.shard, m2.shard) AS shard,
       |  COALESCE(m1.n_docs, 0) AS docs_v1, COALESCE(m2.n_docs, 0) AS docs_v2,
       |  COALESCE(m1.sum_toks, 0) AS toks_v1, COALESCE(m2.sum_toks, 0) AS toks_v2,
       |  (m1.checksum IS DISTINCT FROM m2.checksum) AS changed
       |FROM m1 FULL OUTER JOIN m2 ON m1.shard = m2.shard
       |ORDER BY shard""".stripMargin) { (s, d) =>
    val (v1, v2) = docVersions(s, d)
    val m1 = manifestOf(v1.select(col("doc_id"), col("text")))
    val m2 = manifestOf(v2.select(col("doc_id"), col("text")))
    m1.as("m1").join(m2.as("m2"), col("m1.shard") === col("m2.shard"), "full_outer")
      .select(coalesce(col("m1.shard"), col("m2.shard")).as("shard"),
        coalesce(col("m1.n_docs"), lit(0L)).as("docs_v1"),
        coalesce(col("m2.n_docs"), lit(0L)).as("docs_v2"),
        coalesce(col("m1.sum_toks"), lit(0L)).as("toks_v1"),
        coalesce(col("m2.sum_toks"), lit(0L)).as("toks_v2"),
        (!(col("m1.checksum") <=> col("m2.checksum"))).as("changed"))
      .orderBy(col("shard"))
  }

  // ---------------------------------------------------------------- q196

  /** One signed adjustment row per delta member: the shard it lands in,
    * ±1 doc, ±n_toks, and its 48-bit content hash (sign-free — XOR is
    * self-inverse, so removal and addition apply identically).
    */
  private def manifestAdj(docs: DataFrame, ids: DataFrame, sign: Int): DataFrame =
    docs.join(ids.select(col("id").as("doc_id")), Seq("doc_id"), "left_semi")
      .select(
        expr("CAST(conv(substr(md5(concat('shard:', CAST(doc_id AS STRING))), 1, 7), 16, 10) AS BIGINT) % 16")
          .as("shard"),
        lit(sign.toLong).as("d_docs"),
        (size(split(col("text"), " ")).cast("long") * sign).as("d_toks"),
        expr("CAST(conv(substr(md5(text), 1, 12), 16, 10) AS BIGINT)").as("d_check"))

  /** O(delta) manifest roll-forward: the v2 receipt from the v1 receipt
    * plus the delta — the unchanged corpus majority is never re-hashed.
    * Sound because every receipt column is group-invertible: counts and
    * token totals are additive, and the XOR checksum is self-inverse
    * (removing a document is the same XOR as adding it). Changed docs
    * contribute BOTH sides: their v1 hash cancels out of the old
    * checksum, their v2 hash enters.
    *
    * Measured honestly (BENCH.md round 12): at 500k docs this does NOT
    * beat a fresh re-hash on wall clock (1.10 vs 1.07 s) — the receipt
    * pass is one map-side-combinable aggregation, trivially parallel at
    * that scale. Its value is compositional: it rides the delta the
    * index upgrades already computed (two batch-sized semi-joins, no
    * corpus scan), which matters when v2 is cold/remote, and the q196
    * gate proves the algebra exact so receipts can be maintained
    * without re-scan trust.
    */
  def upgradeManifest(m1: DataFrame, oldDocs: DataFrame, newDocs: DataFrame,
      d: Delta): DataFrame = {
    val minus = manifestAdj(oldDocs, d.removed.unionByName(d.changed), -1)
    val plus = manifestAdj(newDocs, d.added.unionByName(d.changed), 1)
    mergeAdj(m1, minus.unionByName(plus))
  }

  /** Fold signed adjustment rows into a manifest (additive counts/token
    * totals, XOR checksums; null-safe on shards present in one side).
    */
  private def mergeAdj(m1: DataFrame, adjRows: DataFrame): DataFrame = {
    val adj = adjRows
      .groupBy(col("shard"))
      .agg(sum(col("d_docs")).as("a_docs"), sum(col("d_toks")).as("a_toks"),
        expr("bit_xor(d_check)").as("a_check"))
    m1.as("m").join(adj.as("a"), col("m.shard") === col("a.shard"), "full_outer")
      .select(coalesce(col("m.shard"), col("a.shard")).as("shard"),
        (coalesce(col("m.n_docs"), lit(0L)) + coalesce(col("a.a_docs"), lit(0L)))
          .as("n_docs"),
        (coalesce(col("m.sum_toks"), lit(0L)) + coalesce(col("a.a_toks"), lit(0L)))
          .as("sum_toks"),
        expr("coalesce(m.checksum, CAST(0 AS BIGINT)) ^ coalesce(a.a_check, CAST(0 AS BIGINT))")
          .as("checksum"))
      .filter(col("n_docs") > 0)
  }

  /** STREAMING manifest maintenance (append-only intake): fold a
    * micro-batch of NEW documents into a persisted per-shard receipt,
    * for use inside `foreachBatch`. Idempotent under at-least-once
    * replay by EPOCH VERSIONING (the repo's tombstone-epoch recipe
    * applied to receipts): epoch `e<batchId>` is always computed from
    * the newest epoch STRICTLY OLDER than `batchId` and overwrites its
    * own directory, so a crash-replayed batch recomputes the identical
    * state instead of double-counting. Reads/writes are 16-row
    * manifests + batch-sized adjustments — never a corpus scan.
    * Epoch RETENTION: after the new epoch commits, all but the newest
    * `retainEpochs` epoch dirs are deleted (see the inline note for the
    * crash-safety argument); StreamingManifestSpec pins idempotence
    * surviving the pruning.
    *
    * BEHAVIOR CHANGE (round 13): GC is ON BY DEFAULT (`retainEpochs =
    * 2`). Before round 13 every epoch dir was kept forever; a consumer
    * reading older `manifest/e*` dirs as an audit trail must opt out
    * with `retainEpochs = 0` (full ledger, the pre-round-13 behavior).
    * `retainEpochs = 1` is REJECTED: it would keep only the
    * just-written epoch, so a crash-replay of that batchId finds no
    * epoch strictly older than itself, rebases on the empty manifest,
    * and silently loses all prior history — the minimum safe retention
    * is the new epoch plus its base.
    * StreamingManifestSpec pins stream ≡ batch and replay idempotence.
    */
  def appendManifest(s: SparkSession, dir: String, batch: DataFrame,
      batchId: Long, retainEpochs: Int = 2): DataFrame = {
    require(retainEpochs == 0 || retainEpochs >= 2,
      s"retainEpochs=$retainEpochs: must be 0 (keep the full ledger) or >= 2 — " +
        "retaining a single epoch breaks crash-replay (a replayed batch " +
        "rebases on the newest epoch STRICTLY OLDER than itself, which " +
        "retention 1 has just deleted)")
    val root = new org.apache.hadoop.fs.Path(s"$dir/manifest")
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    val epochs: Seq[Long] =
      if (fs.exists(root))
        fs.listStatus(root).toSeq.map(_.getPath.getName)
          .collect { case n if n.startsWith("e") => n.drop(1).toLong }
      else Seq.empty
    val base = epochs.filter(_ < batchId).sorted.lastOption match {
      case Some(e) => MetaScalar.open(s, s"$dir/manifest/e$e").localCheckpoint(true)
      case None =>
        import s.implicits._
        Seq.empty[(Long, Long, Long, Long)]
          .toDF("shard", "n_docs", "sum_toks", "checksum")
    }
    val adj = manifestAdj(batch,
      batch.select(col("doc_id").as("id")), 1)
    val m2 = mergeAdj(base, adj).localCheckpoint(true)
    m2.write.mode("overwrite").parquet(s"$dir/manifest/e$batchId")
    // EPOCH RETENTION (round 13 — the r12 verdict's unbounded-small-file
    // item): delete all but the newest `retainEpochs` epoch dirs, so the
    // ledger on a long-running intake stream stays O(retainEpochs), not
    // O(batches). Crash-safe by the sink's replay contract: foreachBatch
    // re-fires only the LAST uncommitted batchId, which rebases on the
    // newest epoch strictly older than it — retained at any
    // retainEpochs >= 2 (the just-written epoch + its base). Deletion
    // runs strictly AFTER the new epoch's overwrite commits, and
    // re-deleting on replay is a no-op. retainEpochs = 0 disables GC
    // (the pre-round-13 behavior: keep the full audit ledger).
    if (retainEpochs > 0) {
      val after: Seq[Long] =
        if (fs.exists(root))
          fs.listStatus(root).toSeq.map(_.getPath.getName)
            .collect { case n if n.startsWith("e") => n.drop(1).toLong }
        else Seq.empty
      after.sorted.dropRight(retainEpochs).foreach { e =>
        fs.delete(new org.apache.hadoop.fs.Path(s"$dir/manifest/e$e"), true)
      }
    }
    m2
  }

  /** Latest persisted streaming manifest (newest epoch), empty if none. */
  def loadManifest(s: SparkSession, dir: String): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(s"$dir/manifest")
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    val epochs: Seq[Long] =
      if (fs.exists(root))
        fs.listStatus(root).toSeq.map(_.getPath.getName)
          .collect { case n if n.startsWith("e") => n.drop(1).toLong }
      else Seq.empty
    epochs.sorted.lastOption match {
      case Some(e) => MetaScalar.open(s, s"$dir/manifest/e$e")
      case None =>
        import s.implicits._
        Seq.empty[(Long, Long, Long, Long)]
          .toDF("shard", "n_docs", "sum_toks", "checksum")
    }
  }

  /** q196: [[upgradeManifest]] under the hard gate — the receipt analog
    * of the q164–q166 index upgrades, on the same v1→v2 fixture. The
    * Spark side rolls q191's v1 manifest forward through the O(delta)
    * adjustment algebra (16-row manifest + delta-sized adjustments; the
    * unchanged corpus is touched only by the digest delta every upgrade
    * pays); the ORACLE computes the manifest fresh over v2 and never
    * sees the delta, the signs, or the XOR cancellation. Hash equality
    * proves upgrade ≡ rebuild for the export receipt — a missed
    * tombstone, a double-applied change, or a stale token total all
    * surface as a checksum/count mismatch on some shard.
    */
  val manifestUpgrade = Q(
    "q196_manifest_upgrade",
    s"""WITH $docV2Cte,
       |${manifestCte("m2", "v2")}
       |SELECT shard, n_docs, sum_toks, checksum FROM m2 ORDER BY shard""".stripMargin) { (s, d) =>
    val (v1, v2) = docVersions(s, d)
    val m1 = manifestOf(v1.select(col("doc_id"), col("text")))
    val de = docsDelta(s, d)
    upgradeManifest(m1, v1, v2, de).orderBy(col("shard"))
  }

  def specs: Seq[Q] = Seq(textReleaseUpgrade, dedupReleaseUpgrade,
    annReleaseUpgrade, manifestDrift, manifestUpgrade)
}
