package graft.ops

import graft.Q
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PERSISTENT MinHash/LSH near-duplicate index — the fuzzy twin of the
  * exact-dedup corpus hash set (q65) and the third member of the
  * persisted-index family ([[AnnIndex]], [[TextIndex]]): the signature
  * and band tables the registered q32/q57 family recomputes per run are
  * written once, and every later ingestion batch is near-dup-checked
  * against the corpus in O(batch) — new-batch signatures joined to the
  * stored band table, never a corpus re-shingle.
  *
  * Index layout under `dir` (plain parquet):
  *  - `bands/` (doc_id, b, s1, s2, ep), partitioned by `bkt =
  *    pmod(xxhash64(b, s1, s2), buckets)` with a CORPUS-SIZED bucket
  *    count (n/[[DocsPerBucket]] clamped to [64, 4096], persisted in
  *    `meta/` — [[Tombstones.bucketsFor]]) — the LSH bucket table. Serve-time
  *    batches name their band signatures, so bucketing turns the band
  *    equi-join into PARTITION pruning: a small batch (the interactive
  *    "is this document a near-dup?" case) opens ≤ 8·|batch| of the
  *    directories, each bounded at ~tens of MB, never the whole table.
  *  - `sigs/`  (doc_id, sig: array of 16 longs, ep), partitioned by
  *    `sbkt = pmod(xxhash64(doc_id), buckets)` — for the estimated-
  *    Jaccard verification of candidates, and [[append]]'s done-marker.
  *    Both reads prune to the ids they actually need (candidate ids /
  *    the arriving batch's ids), so the verification read is
  *    candidate-bucket-bounded, not corpus-bounded.
  *  - `tombstones/` (doc_id, te) + `epoch/` — [[delete]]'s O(batch)
  *    ledger and the [[Tombstones]] epoch marker: a row is live iff its
  *    `ep` postdates its id's newest tombstone, so delete-then-reappend
  *    needs no [[compact]] (the release-upgrade fast path); the ledger
  *    folds in at compaction.
  *
  * This is the only layout served: every read refuses a directory
  * without `meta/` ([[Tombstones.readBuckets]]), which predates the
  * current format and must be rebuilt with [[write]].
  *
  * The signature recipe is [[TextOps.sigsOf]]/[[TextOps.bandsOf]] —
  * the ONE definition shared with the live q32/q57 queries — so an
  * index built yesterday and a batch signed today can never disagree
  * on shingle width, hash constants, or band structure, and
  * DedupIndexSpec proves saved-index [[queryBatch]] BIT-IDENTICAL to
  * the live cross-join computation (q153's shape).
  *
  * Crash/replay safety mirrors [[TextIndex]]: bands land BEFORE sigs,
  * and sigs is [[append]]'s anti-join done-marker — a crash mid-batch
  * leaves at worst orphan band rows for doc_ids absent from sigs, which
  * an at-least-once replay re-writes in full. The stale duplicates it
  * leaves behind are harmless by construction: candidates are DISTINCT
  * pairs from an equi-join, so a doubled band row cannot change the
  * result ([[queryBatch]] needs no dedup-on-read pass).
  *
  * At 100 TB: bands ≈ 8 rows of 3 longs per document and sigs ≈ 16
  * longs per document — gigabytes where the corpus is terabytes. The
  * only pairwise work is confined to LSH buckets, with the stored side
  * capped per bucket at query time ([[LshGuard]]) so one boilerplate
  * signature shared corpus-wide cannot go quadratic; batch-side hot
  * membership is bounded by the batch size itself.
  */
object DedupIndex {

  case class Index(bands: DataFrame, sigs: DataFrame, buckets: Int)

  /** Target documents per band bucket: ~160k docs ≈ 1.3M band rows ≈
    * tens of MB per bucket directory — the file-sizing argument, not
    * √n. A √n experiment (2237 buckets at the 5M-doc rehearsal) was
    * MEASURED WORSE on both sides: build 36 → 302 s (a small-file
    * explosion — partitionBy dirs × task count) and 100-doc query
    * 10.7 → 16.0 s (a wide batch names most buckets, so extra
    * directories only add listing/open overhead). Bytes-per-bucket is
    * what actually bounds both the write and the pruned read. The
    * 64-bucket floor binds below ~10M docs (every local bench keeps 64
    * directories and pays no small-file tax).
    */
  private[graft] val DocsPerBucket = 160000L

  /** The band bucket of a (b, s1, s2) band — the ONE spelling of the
    * hash, used by the write side (over a band table's columns) and by
    * [[bandBuckets]] (over a signature row's bands).
    */
  private[ops] def bktCol(nB: Int, b: Column = col("b"), s1: Column = col("s1"),
      s2: Column = col("s2")): Column =
    pmod(xxhash64(b, s1, s2), lit(nB.toLong)).cast("int")

  private[ops] def sbktCol(nB: Int, id: Column = col("doc_id")): Column =
    pmod(xxhash64(id), lit(nB.toLong)).cast("int")

  /** Aggregate, over a signature table (doc_id, sig), to the distinct
    * band buckets its [[TextOps.bandsOf]] rows fall in — for
    * [[graft.Reliable.ownedObserving]], so the bucket set comes out of
    * the signatures' own checkpoint job. One set per band index, each
    * ≤ `nB` values, so the observed state is layout-bounded, not
    * batch-sized.
    */
  private[ops] def bandBuckets(nB: Int): Column =
    array_distinct(flatten(array(TextOps.bandValues.zipWithIndex.map {
      case ((s1, s2), b) => collect_set(bktCol(nB, lit(b), s1, s2))
    }: _*)))

  /** Aggregate to the distinct sig buckets of the ids in `id` — the
    * partitions of `sigs/` that hold them ([[graft.Reliable.ownedObserving]]).
    */
  private[ops] def sigBuckets(nB: Int, id: Column = col("doc_id")): Column =
    collect_set(sbktCol(nB, id))

  /** Ids of `ids` already present AND LIVE in the sigs done-marker:
    * the pruned O(batch) replay check shared by [[append]] and the
    * ingestion gate's sink-side marker. `sbkts` is the [[sigBuckets]]
    * set of `ids`, observed where `ids` was checkpointed. A tombstoned
    * id is NOT done (it re-appends at a fresh epoch).
    */
  private[graft] def doneIds(s: SparkSession, dir: String,
      ids: DataFrame, sbkts: Seq[Int]): DataFrame =
    Tombstones.liveByEpoch(
        MetaScalar.open(s, s"$dir/sigs").filter(col("sbkt").isin(sbkts: _*)),
        Tombstones.tombMax(s, dir, "doc_id"), "doc_id")
      .join(ids.select(col("doc_id")), Seq("doc_id"), "left_semi")
      .select(col("doc_id"))

  /** Write one batch of signatures, every band/sig row stamped with
    * epoch `ep`.
    */
  private def writeBatch(sigs: DataFrame, dir: String, mode: String,
      nB: Int, ep: Long): Unit = {
    // Repartition by the partition column before each dynamic-
    // partitioned write (round 18, guide §6): one file per bucket per
    // batch instead of (tasks × buckets) small files — the measured
    // layout carried ~4× the files, taxing every load's footer reads,
    // the release-upgrade clones, and the write commits themselves.
    // bands first, sigs LAST: sigs is append's done-marker (see object doc)
    Layout.writeBucketed(TextOps.bandsOf(sigs).withColumn("ep", lit(ep))
      .withColumn("bkt", bktCol(nB)), "bkt", mode, s"$dir/bands")
    Layout.writeBucketed(sigs.withColumn("ep", lit(ep)).withColumn("sbkt", sbktCol(nB)),
      "sbkt", mode, s"$dir/sigs")
  }

  /** Build the index from `docs(doc_id, text)`, replacing anything at
    * `dir`. The signature pass is the same one-shuffle shape as live
    * q32: flat codegen'd shingle hashing, 16-min partial aggregation
    * before the exchange. The band layout gets a corpus-sized bucket
    * count ([[Tombstones.bucketsFor]]), persisted for the layout's
    * lifetime.
    */
  def write(s: SparkSession, docs: DataFrame, dir: String,
      bucketsOverride: Option[Int] = None): Index = graft.Jobs.labeled(s, "dedup-index: write") {
    graft.Reliable.scoped {
      val sigs = graft.Reliable.owned(TextOps.sigsOf(docs))
      val nB = bucketsOverride.getOrElse(
        Tombstones.bucketsFor(sigs.count(), DocsPerBucket))
      Tombstones.writeMeta(s, dir, nB)
      writeBatch(sigs, dir, "overwrite", nB, 0L)
      Tombstones.dropLedger(s, dir)
      Tombstones.writeEpoch(s, dir, 0L)
      load(s, dir)
    }
  }

  /** Load the live index: both tables folded against the tombstone
    * ledger by epoch (broadcast-sized until [[compact]]).
    */
  def load(s: SparkSession, dir: String): Index = {
    val nB = Tombstones.readBuckets(s, dir) // the format gate
    val tMax = Tombstones.tombMax(s, dir, "doc_id")
    Index(
      Tombstones.liveByEpoch(MetaScalar.open(s, s"$dir/bands"), tMax, "doc_id"),
      Tombstones.liveByEpoch(MetaScalar.open(s, s"$dir/sigs"), tMax, "doc_id"),
      nB)
  }

  /** Append a document batch using the frozen hash recipe. Idempotent
    * under at-least-once replay: ids already present in sigs (the
    * done-marker, written last) are skipped via an anti-join confined
    * to batch-sized data by the semi-join, so replay cost is O(batch),
    * not O(index). A torn band write from a crashed append is re-written
    * whole (its doc_id never reached sigs); the duplicates it leaves are
    * invisible to the DISTINCT candidate join. A tombstoned id
    * RE-APPENDS at a fresh epoch (the release-upgrade fast path).
    */
  def append(s: SparkSession, dir: String, docs: DataFrame): Index = graft.Reliable.scoped {
    graft.Jobs.labeled(s, "dedup-index: append") {
      val nB = Tombstones.readBuckets(s, dir) // the format gate
      val (sigs, seen) = graft.Jobs.labeled(s, "dedup-index: append/sigsOf") {
        // the intake batch is serve-contract sized: one batch-bounded
        // exchange spreads the shingle hashing off its arrival
        // partitioning (round 19, guide §2.5)
        graft.Reliable.ownedObserving(TextOps.sigsOf(graft.Spread.batch(docs)),
          sigBuckets(nB))
      }
      // done-marker check reads only the batch ids' sig buckets; "done"
      // means LIVE, so a deferred-deleted id re-appends
      val done = doneIds(s, dir, sigs, seen.getSeq[Int](0))
      val fresh = graft.Jobs.labeled(s, "dedup-index: append/fresh") {
        graft.Reliable.owned(sigs.join(done, Seq("doc_id"), "left_anti"))
      }
      val ep = Tombstones.bumpEpoch(s, dir)
      graft.Jobs.labeled(s, "dedup-index: append/writeBatch") {
        writeBatch(fresh, dir, "append", nB, ep)
      }
      load(s, dir)
    }
  }

  /** O(batch) delete: tombstone append; rows vanish from [[load]] (and
    * so every [[queryBatch]]) immediately, files are untouched until
    * [[compact]] — which runs inline once the ledger outgrows
    * `autoCompactAt` rows ([[Tombstones.AutoCompactRows]]), so a long
    * delete sequence keeps the broadcast side bounded by construction.
    * The tombstone records the current epoch, so a later [[append]]
    * re-adds the id without compacting.
    */
  def delete(s: SparkSession, dir: String, ids: DataFrame,
      autoCompactAt: Long = Tombstones.AutoCompactRows): Index = graft.Jobs.labeled(s, "dedup-index: delete") {
    Tombstones.readBuckets(s, dir) // the format gate, before the ledger write
    if (Tombstones.appendLedger(s, dir, ids.select(col("doc_id")),
        Some(Tombstones.readEpoch(s, dir)), autoCompactAt))
      compact(s, dir)
    else load(s, dir)
  }

  /** Fold tombstones into rewritten band/sig files (keeping the
    * band- and sig-bucket partitioning) and drop the ledger. Also
    * materializes the torn-append heal: duplicate band rows from
    * replayed appends are collapsed by the rewrite's dropDuplicates.
    */
  def compact(s: SparkSession, dir: String): Index = graft.Reliable.scoped {
    Tombstones.ledger(s, dir).foreach { _ =>
      val live = load(s, dir)
      // the rewrite restarts epoch history at 0 (no tombstones survive it)
      Layout.writeBucketed(graft.Reliable.owned(live.bands.dropDuplicates("doc_id", "b")
          .withColumn("ep", lit(0L))), "bkt", "overwrite", s"$dir/bands")
      Layout.writeBucketed(graft.Reliable.owned(live.sigs.select(col("doc_id"), col("sig"))
          .dropDuplicates("doc_id").withColumn("ep", lit(0L))
          .withColumn("sbkt", sbktCol(live.buckets))), "sbkt", "overwrite", s"$dir/sigs")
      Tombstones.dropLedger(s, dir)
      Tombstones.writeEpoch(s, dir, 0L)
    }
    load(s, dir)
  }

  /** The ONE candidate-join shape, shared by the persisted serve path
    * ([[queryBatch]]) and the live registered q153: batch bands
    * equi-joined to corpus bands per (b, s1, s2), with the CORPUS side
    * capped per bucket at query time ([[LshGuard]] — write-time capping
    * would freeze membership and complicate append; query-time capping
    * runs after partition pruning, so the window is serve-sized). Self
    * pairs (a batch doc already indexed) are excluded. Returns DISTINCT
    * (batch_id, corpus_id).
    */
  def candidatePairs(s: SparkSession, corpusBands: DataFrame,
      batchBands: DataFrame, tag: String = "dedup-index"): DataFrame = {
    // Confine the corpus side to the batch's band signatures BEFORE the
    // rank-cap window. A bucket here IS its (b, s1, s2) triple, and the
    // semi-join filters on exactly those keys, so every surviving
    // bucket keeps its COMPLETE membership — ranks, the cap, and the
    // resulting pairs are identical to capping first (the oracle's ccap
    // CTE still replays this). What changes is cost: without this, the
    // window's row_number shuffles every band row in the batch's
    // pruned BUCKETS (≈ corpus/buckets × named dirs — 20-80M rows at a
    // 20M-doc corpus, measured 14-35 s/query); confined, it sorts only
    // rows matching the batch's ≤8·|batch| signatures. The batch side
    // is serve-contract bounded, so its triples broadcast as they are: a
    // semi join's build side needs no dedup, and a distinct would cost
    // an exchange and a job.
    val confined = corpusBands.join(
      broadcast(batchBands.select(col("b"), col("s1"), col("s2"))),
      Seq("b", "s1", "s2"), "left_semi")
    val capped = LshGuard.capBuckets(s, confined, Seq("b", "s1", "s2"),
      "doc_id", tag = tag)
    batchBands.as("q")
      .join(capped.as("c"),
        col("q.b") === col("c.b") && col("q.s1") === col("c.s1") &&
          col("q.s2") === col("c.s2") && col("q.doc_id") =!= col("c.doc_id"))
      .select(col("q.doc_id").as("batch_id"), col("c.doc_id").as("corpus_id"))
      .distinct()
  }

  /** Near-dup-check `batch(doc_id, text)` against the persisted corpus:
    * O(batch) signature pass, band-bucket partition pruning (the batch's
    * band signatures name their buckets — computed with the same
    * xxhash64 expression the write side used), the shared candidate
    * join, then estimated Jaccard from signature agreement (q32's flat
    * 16-comparison codegen'd form; the corpus sigs read is confined to
    * candidate ids). Both bucket sets are observed in the job that
    * checkpoints their frame (the batch signatures, the candidate
    * pairs), so the call collects nothing of its own. Returns
    * (batch_id, corpus_id, est_jaccard) in total order.
    */
  def queryBatch(s: SparkSession, dir: String, batch: DataFrame): DataFrame = graft.Jobs.labeled(s, "dedup-index: queryBatch") {
    val ix = load(s, dir) // the format gate; carries the persisted bucket count
    val (bSigs, bkts) = graft.Jobs.labeled(s, "dedup-index: queryBatch/sigsOf") {
      // batch-contract spread, as in [[append]] (round 19)
      graft.Reliable.ownedObserving(TextOps.sigsOf(graft.Spread.batch(batch)),
        bandBuckets(ix.buckets))
    }
    val bBands = TextOps.bandsOf(bSigs)
    val corpusBands = ix.bands.filter(col("bkt").isin(bkts.getSeq[Int](0): _*))
    // candidate-sized (cap-bounded) — checkpointed because the pair set
    // is read by the verification join after its sig buckets are known
    val (pairs, sbkts) = graft.Jobs.labeled(s, "dedup-index: queryBatch/pairs") {
      graft.Reliable.ownedObserving(candidatePairs(s, corpusBands, bBands),
        sigBuckets(ix.buckets, col("corpus_id")))
    }
    val corpusSigs = ix.sigs.filter(col("sbkt").isin(sbkts.getSeq[Int](0): _*))
    pairs
      .join(bSigs.as("sa"), col("batch_id") === col("sa.doc_id"))
      .join(corpusSigs.as("sb"), col("corpus_id") === col("sb.doc_id"))
      .select(col("batch_id"), col("corpus_id"),
        TextOps.estJaccard.as("est_jaccard"))
      .orderBy(col("batch_id"), col("corpus_id"))
  }

  /** Incremental near-dup under the hard gate: the arriving delta
    * (doc_id >= 400, q65's convention) checked against the existing
    * corpus (doc_id < 400) through the SAME [[candidatePairs]] join the
    * persisted index serves — batch-vs-corpus band join, corpus side
    * capped, est-Jaccard verification — so the oracle gates the
    * production serve shape, and DedupIndexSpec pins persisted
    * [[queryBatch]] bit-identical to this live form.
    */
  val incrementalNearDup = Q(
    "q153_incremental_neardup",
    (TextOps.lshOracleSql() +
      """,
      |corpusb AS (SELECT doc_id, b, s1, s2 FROM bands WHERE doc_id < 400),
      |""" + LshGuard.capCteSql("ccap", "corpusb",
        Seq("doc_id", "b", "s1", "s2"), Seq("b", "s1", "s2"), "doc_id") +
      """,
      |batchb AS (SELECT doc_id, b, s1, s2 FROM bands WHERE doc_id >= 400),
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
    val sigs = TextOps.minhashSigs(s, d)
    val corpusSigs = sigs.filter(col("doc_id") < 400)
    val batchSigs = sigs.filter(col("doc_id") >= 400)
    val pairs = candidatePairs(s,
      TextOps.bandsOf(corpusSigs), TextOps.bandsOf(batchSigs))
    pairs
      .join(sigs.as("sa"), col("batch_id") === col("sa.doc_id"))
      .join(sigs.as("sb"), col("corpus_id") === col("sb.doc_id"))
      .select(col("batch_id"), col("corpus_id"),
        TextOps.estJaccard.as("est_jaccard"))
      .orderBy(col("batch_id"), col("corpus_id"))
  }

  def specs: Seq[Q] = Seq(incrementalNearDup)
}
