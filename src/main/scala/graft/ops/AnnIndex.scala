package graft.ops

import graft.Q
import graft.functions.{CosineSim, DotProduct}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** PERSISTENT ANN index — the index-build / search-job separation a
  * production deployment needs: the trained quantizer state that
  * q49/q108/q140 share per session ([[graft.Shared]]) is written once
  * as parquet tables and any later job (a different JVM, a serving
  * cluster) loads it and searches WITHOUT retraining or re-encoding the
  * corpus.
  *
  * Index layout under `dir` (all plain parquet — readable by anything):
  *  - `centroids/`  (cid, cv)            — trained coarse centroids
  *  - `codebook/`   (b, cid, cv)         — trained PQ sub-codebooks
  *  - `assigned/`   (vec_id, c_id)       — inverted-list membership
  *  - `codes/`      (vec_id, b, code) PARTITIONED BY c_id — the PQ codes
  *    laid out as PHYSICAL inverted lists (round 8): probing nprobe
  *    lists prunes the code scan to those partition directories before
  *    any file opens, the on-disk form of "IVF reads only probed lists"
  *  - `tombstones/` (vec_id)             — deleted ids awaiting [[compact]]
  *
  * [[search]] runs q140's exact dataflow over the loaded tables for
  * EXTERNAL query vectors: probe the nprobe nearest lists by cosine,
  * build the per-query block-distance table (a queries×8×4 broadcast),
  * rank candidates by summed integer micro-unit code lookups.
  * AnnIndexSpec proves saved-index search is BIT-IDENTICAL to the live
  * session path on the same queries.
  *
  * At 100 TB: the index tables are the REDUCED shapes (centroids and
  * codebooks are KBs; codes are 4 bytes + key per vector; assignments
  * one long pair per vector) — the raw vector store is only touched by
  * a q143-style exact re-rank stage, which reads shortlist-size rows
  * per query by id.
  */
object AnnIndex {

  case class Index(centroids: DataFrame, codebook: DataFrame,
    assigned: DataFrame, codes: DataFrame)

  /** PQ blocks per vector — must match [[Quantizer.subBlocks]]'s 4
    * contiguous 16-dim slices. Append/heal logic treats a vec_id's code
    * rows as complete iff all [[CodeBlocks]] are present.
    */
  val CodeBlocks = 4

  /** Train (session-shared — free if q49/q108/q140 already ran) and
    * persist the index for the corpus at `d`, on the FIXED 16-list
    * q49/q140 oracle recipe: the session-shared full-corpus-trained
    * centroids, so saved-index search stays BIT-IDENTICAL to the live
    * session path (AnnIndexSpec pins it). Delegates to the same build
    * core as [[writeScaled]] — one layout/assignment/encode path; only
    * centroid provenance differs.
    */
  def write(s: SparkSession, d: String, dir: String): Unit =
    writeCore(s, d, dir, Quantizer.ivfCentroids(s, d))

  /** [[write]] with the IVF list count SIZED TO THE CORPUS: nLists =
    * clamp(16..65536, ceil(√n)) — the standard IVF sizing — so expected
    * list length grows as √n instead of n/16 and probe cost stays
    * sub-linear at any corpus. (The round-8 100× rehearsal measured the
    * fixed-16-list search at 3.6× the cost for 100× rows purely because
    * every probed list was 100× longer.) The 4-block PQ codebook is
    * list-count-independent (reused from the session-shared trainer),
    * codes are identical to [[write]]'s, and the produced layout is
    * loaded/searched/appended/compacted by the SAME code paths — only
    * `centroids` and `assigned` differ. The registered q49/q140 oracles
    * stay on the static 16-list recipe; the sample-trained path itself
    * is oracle-gated by [[scaledIvfBuild]] (q160) at an explicit
    * non-degenerate sizing, since the md5-prefix sample membership and
    * the seeded Lloyd are both DuckDB-replayable. `nListsOverride` pins
    * an explicit list count (still sample-trained) for tuned
    * deployments. `n` comes from the corpus's parquet footers (a
    * `count()` job only when they cannot say).
    */
  def writeScaled(s: SparkSession, d: String, dir: String,
      nListsOverride: Option[Int] = None): Unit = {
    val e = graft.Tables.vectors(s, d)
    val n = MetaScalar.rows(graft.Tables.embeddings(s, d))
    val nLists = nListsOverride.getOrElse(scaledLists(n))
    writeCore(s, d, dir, scaledSampleCentroids(e, n, nLists, perList = 50L))
  }

  /** The √n list count of a scaled IVF layout over `n` vectors, clamped
    * to [16, 65536]: [[writeScaled]]'s sizing, and the cluster count of
    * [[Dedup.semanticDedupScaled]].
    */
  private[ops] def scaledLists(n: Long): Int =
    math.max(16L, math.min(65536L, math.ceil(math.sqrt(n.toDouble)).toLong)).toInt

  /** Shortlist per list that covers `rows` vectors spread over `lists`
    * lists, ceil(rows / lists) — an exact gate's cover: the union corpus
    * of [[IngestionGate.exactShortlist]], RetrainFlow's 16-list cycles.
    * Long until the final clamp, so multi-billion `rows` cannot overflow.
    */
  private[ops] def perListCover(rows: Long, lists: Long): Int =
    math.min((rows + lists - 1L) / lists, Int.MaxValue.toLong).toInt

  /** The sample-trained Lloyd behind [[writeScaled]], with explicit
    * sizing so q160 can gate it at a non-degenerate small-n setting.
    * Lloyd is iters·|train|·k distance evaluations — training on the
    * full corpus would be iters·n·√n. Train on a deterministic
    * ~`perList`-vectors-per-list hash sample of the `n` vectors of `e`
    * (the standard IVF recipe; membership by the shared md5-prefix hash
    * the split/sampling queries use, so a DuckDB oracle computes the
    * SAME sample) and pay n·k once, at the final full-corpus assignment.
    *
    * The seed renumber (dense 0-based ids in vec_id order) runs as a
    * DISTRIBUTED sort + `zipWithIndex`, not a global window: indices
    * follow the total order alone — partition boundaries cannot change
    * them — so the result is deterministic AND no single task ever
    * holds the whole sample (at the 65536-list clamp the sample is
    * ~3.3M vectors, past what a one-partition window should sort).
    * The sample is [[graft.Reliable.owned]]: the returned centroids read
    * it lazily, so consume them inside the caller's scope.
    */
  private[ops] def scaledSampleCentroids(e: DataFrame, n: Long, nLists: Int,
      perList: Long): DataFrame = {
    val mod = math.max(1L, n / (perList * nLists))
    val sorted = e
      .filter(expr(
        "CAST(conv(substr(md5(CAST(vec_id AS STRING)), 1, 7), 16, 10) AS BIGINT)")
        % mod === 0)
      .select(col("vec_id"), col("v"))
      .orderBy(col("vec_id"))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType, nullable = false),
      sorted.schema("v")))
    val sample = graft.Reliable.owned(e.sparkSession.createDataFrame(
      sorted.rdd.zipWithIndex.map { case (row, i) =>
        org.apache.spark.sql.Row(i, row.get(1))
      }, schema))
    Quantizer.trainCentroids(sample, nLists, Quantizer.Iters)
  }

  /** Nearest-list assignment for `batch(vec_id, v)` against
    * `cent(c_id, cv)` — the ONE affinity recipe (6-decimal cosine desc,
    * c_id tie-break) shared by [[writeCore]], [[writeVectors]] and
    * [[append]], so an appended vector can never land on a different
    * list than a build-time one.
    */
  private def assignVectors(batch: DataFrame, cent: DataFrame): DataFrame = {
    val wAff = Window.partitionBy(col("vec_id")).orderBy(col("ca").desc, col("c_id"))
    batch.crossJoin(broadcast(cent))
      .select(col("vec_id"), col("c_id"),
        round(CosineSim.cosine(col("v"), col("cv")), 6).as("ca"))
      .withColumn("crank", row_number().over(wAff))
      .filter(col("crank") === 1)
      .select(col("vec_id"), col("c_id"))
  }

  /** 4-byte PQ codes (vec_id, b, code) from a packed-min table
    * ([[Retrieval.packedMin]]): the winning sub-centroid of each block.
    */
  private def codesOf(packed: DataFrame): DataFrame =
    packed.select(col("vec_id"), col("b"), (col("mk") % 100).cast("int").as("code"))

  /** 1-row (n_vecs, mean_err_micro, p95_err_micro) over the per-vector
    * PQ quantization error of a packed-min table — Σ over blocks of the
    * encode argmin's distance (`mk div 100`), i.e. what the ADC serve
    * path loses per vector under these quantizers — with the
    * [[DriftStats]] kernel (half-up mean, exact rank-selected p95 via
    * GlobalOrder's two-phase rank: no single-partition window, totals
    * ride out of the partials fold for free). p95, the HIGH tail:
    * encode error drifts UP.
    */
  private def errStats(packed: DataFrame): DataFrame =
    DriftStats.stats(
      packed.groupBy(col("vec_id")).agg(sum(expr("mk div 100")).as("err_micro")),
      col("err_micro"), col("vec_id"), 95,
      "n_vecs", "mean_err_micro", "p95_err_micro")

  /** The ONE index build path (round 9): persist `centroids`, the
    * session-shared PQ codebook, the full-corpus assignment against
    * those centroids (the ivfAffinity crank=1 recipe), the codes
    * PARTITIONED by list id — the IVF inverted lists as directories, so
    * probe-time pruning is physical — and (round 14) the build-time
    * `quantstats` baseline [[quantizationDrift]] compares appends to.
    *
    * Two phases of independent chains ([[graft.Jobs.concurrently]]):
    * the coarse chain (train `centroids` → write → `assigned`) beside
    * the PQ chain (codebook → write → the corpus's packed-min table,
    * [[Retrieval.pqAssign]], built once); then `codes` beside
    * `quantstats`, both read from that one packed-min table. `centroids`
    * is by-name so its training runs on the coarse branch, and the
    * scope releases what that training checkpoints ([[writeScaled]]'s
    * sample) when the build ends.
    */
  private def writeCore(s: SparkSession, d: String, dir: String,
      centroids: => DataFrame): Unit = graft.Reliable.scoped {
    val Seq(assigned, packed) = graft.Jobs.concurrently(s)(
      () => graft.Jobs.labeled(s, "ann-index: write/coarse") {
        centroids.write.mode("overwrite").parquet(s"$dir/centroids")
        writeAssigned(s, graft.Spread.lazyAuto(graft.Tables.vectors(s, d)), dir)
      },
      () => graft.Jobs.labeled(s, "ann-index: write/pq") {
        Quantizer.pqCodebook(s, d).write.mode("overwrite").parquet(s"$dir/codebook")
        Retrieval.pqAssign(s, d)
      })
    writeCodesAndStats(s, assigned, packed, dir)
  }

  /** Write `assigned` for `e(vec_id, v)` against the `centroids` already
    * persisted under `dir`; returns the persisted table.
    */
  private def writeAssigned(s: SparkSession, e: DataFrame, dir: String): DataFrame = {
    val cent = MetaScalar.open(s, s"$dir/centroids")
      .select(col("cid").as("c_id"), col("cv"))
    assignVectors(e, cent).write.mode("overwrite").parquet(s"$dir/assigned")
    MetaScalar.open(s, s"$dir/assigned")
  }

  /** The second build phase: `codes` laid out by list beside the
    * `quantstats` baseline, both from one materialized packed-min table.
    */
  private def writeCodesAndStats(s: SparkSession, assigned: DataFrame,
      packed: DataFrame, dir: String): Unit =
    graft.Jobs.concurrently(s)(
      () => graft.Jobs.labeled(s, "ann-index: write/codes") {
        Layout.writeBucketed(codesOf(packed).join(assigned, Seq("vec_id")),
          "c_id", "overwrite", s"$dir/codes")
      },
      () => graft.Jobs.labeled(s, "ann-index: write/quantstats") {
        errStats(packed).write.mode("overwrite").parquet(s"$dir/quantstats")
      })

  /** Build and persist an index over an EXPLICIT vector frame
    * `e0(vec_id, v)`, training both quantizers on exactly those vectors
    * (the fixed 16-list / 4×8-codebook q49/q108 recipe) — the
    * corpus-versioning entry point: [[Release]] builds v1 indexes from
    * filtered snapshots, and q166 gates the upgrade path against an
    * oracle that trains fresh. Same layout, phases and serve paths as
    * [[write]]; replaces anything at `dir`, including a previous
    * tombstone ledger.
    */
  def writeVectors(s: SparkSession, e0: DataFrame, dir: String): Unit = graft.Reliable.scoped {
    // materialize at healthy parallelism: the frame feeds two Lloyd
    // trainers, the assignment and the encode (round 19)
    val e = graft.Spread.materialized(e0.select(col("vec_id"), col("v")))
    val Seq(assigned, packed) = graft.Jobs.concurrently(s)(
      () => graft.Jobs.labeled(s, "ann-index: write/coarse") {
        Quantizer.trainCentroids(e, 16, Quantizer.Iters)
          .write.mode("overwrite").parquet(s"$dir/centroids")
        writeAssigned(s, e, dir)
      },
      () => graft.Jobs.labeled(s, "ann-index: write/pq") {
        Quantizer.trainPqBlocks(Quantizer.subBlocks(e), 8, Quantizer.Iters)
          .write.mode("overwrite").parquet(s"$dir/codebook")
        graft.Reliable.owned(Retrieval.packedMin(e, MetaScalar.open(s, s"$dir/codebook")))
      })
    writeCodesAndStats(s, assigned, packed, dir)
    Tombstones.dropLedger(s, dir)
  }

  def load(s: SparkSession, dir: String): Index = {
    val raw = Index(
      centroids = MetaScalar.open(s, s"$dir/centroids"),
      codebook = MetaScalar.open(s, s"$dir/codebook"),
      assigned = MetaScalar.open(s, s"$dir/assigned"),
      codes = MetaScalar.open(s, s"$dir/codes"))
    Tombstones.ledger(s, dir).fold(raw) { t =>
      val ids = t.select(col("vec_id"))
      raw.copy(
        assigned = raw.assigned.join(ids, Seq("vec_id"), "left_anti"),
        codes = raw.codes.join(ids, Seq("vec_id"), "left_anti"))
    }
  }

  /** Delete vectors by id — the standard tombstone design: ids append to
    * a `tombstones/` table ([[load]] anti-joins it onto assigned/codes,
    * so searches never surface deleted ids), and the index files are
    * untouched until [[compact]] rewrites them. O(batch) per delete,
    * O(index) only at compaction — never a rewrite on the delete path.
    *
    * The ledger is a broadcast side on every load, so it must stay
    * broadcast-sized between compacts: when a delete pushes it past
    * `autoCompactAt` rows (the count is parquet-footer metadata, not a
    * scan), [[compact]] runs inline — a long delete sequence stays
    * bounded without an operator remembering to compact.
    */
  def delete(s: SparkSession, dir: String, ids: DataFrame,
      autoCompactAt: Long = Tombstones.AutoCompactRows): Index =
    // id-only ledger (no epoch): a tombstoned id stays blocked until compact
    if (Tombstones.appendLedger(s, dir, ids.select(col("vec_id")), None, autoCompactAt))
      compact(s, dir)
    else load(s, dir)

  /** Fold accumulated tombstones into the index files: rewrite assigned
    * and codes without the deleted rows, then drop the tombstone table.
    * Run when the tombstone fraction makes the per-search anti-join
    * noticeable (it is a broadcast-sized side until then). Note a
    * tombstoned id blocks that id entirely — re-adding it via [[append]]
    * requires compacting first.
    */
  def compact(s: SparkSession, dir: String): Index = graft.Reliable.scoped {
    Tombstones.ledger(s, dir).foreach { _ =>
      val live = load(s, dir) // tombstones already anti-joined
      // localCheckpoint so the rewrite doesn't race its own input scan
      graft.Reliable.owned(live.assigned)
        .write.mode("overwrite").parquet(s"$dir/assigned")
      Layout.writeBucketed(graft.Reliable.owned(live.codes), "c_id", "overwrite", s"$dir/codes")
      Tombstones.dropLedger(s, dir)
    }
    load(s, dir)
  }

  /** Append new vectors `batch(vec_id, v)` to a persisted index using
    * its EXISTING (frozen) quantizers — the standard serve-time append:
    * assign each vector to its nearest list (cosine, the affinity
    * recipe), encode its 4-byte codes against the trained codebook, and
    * append both tables in place. No retraining, no touch of existing
    * rows; quantizer drift is handled by periodic rebuilds ([[write]]),
    * exactly as production ANN services do. Returns the refreshed index.
    *
    * Crash/replay safety: codes land BEFORE assigned. Search candidates
    * come from `assigned` and inner-join to `codes`, so an orphan codes
    * row (crash between the writes) is merely invisible — the reverse
    * order would leave assigned ids with no codes, silently dropping
    * those vectors from every future search. The codes anti-join skips
    * only ids whose [[CodeBlocks]] rows are ALL present (round-9 fix:
    * a vec_id-granular skip would leave a torn partial-block write —
    * a crash mid-commit inside the codes job — permanently short,
    * under-summing that vector's block distance forever), so an
    * at-least-once replay re-writes torn vectors in full; the stale
    * partial rows it leaves behind are exact duplicates that
    * [[search]]'s per-(cand, block) dedup ignores. `assigned` still
    * skips any id it already holds.
    */
  def append(s: SparkSession, dir: String, batch: DataFrame): Index = {
    val ix = load(s, dir)
    val cent = ix.centroids.select(col("cid").as("c_id"), col("cv"))
    val newAssigned = assignVectors(batch, cent)
    val newCodes = codesOf(Retrieval.packedMin(batch, ix.codebook))
    // ids already COMPLETE in codes (all blocks present): the groupBy is
    // confined to batch-sized data by the semi-join, so replay cost is
    // O(batch), not O(index)
    val codeIds = MetaScalar.open(s, s"$dir/codes")
      .join(batch.select(col("vec_id")), Seq("vec_id"), "left_semi")
      .groupBy(col("vec_id"))
      .agg(countDistinct(col("b")).as("nb"))
      .filter(col("nb") === CodeBlocks)
      .select(col("vec_id"))
    Layout.writeBucketed(newCodes.join(codeIds, Seq("vec_id"), "left_anti")
      .join(newAssigned, Seq("vec_id")), "c_id", "append", s"$dir/codes")
    val assignedIds = MetaScalar.open(s, s"$dir/assigned").select(col("vec_id"))
    newAssigned.join(assignedIds, Seq("vec_id"), "left_anti")
      .write.mode("append").parquet(s"$dir/assigned")
    load(s, dir)
  }

  /** The probe front of [[search]]: each query's `nprobe` nearest lists
    * by cosine (the affinity recipe), as probes(qid, c_id). Factored with
    * [[candidatesOf]] so the exact-cover fast path in [[searchRerank]]
    * reuses the IDENTICAL candidate semantics (probe rule,
    * self-exclusion, allow-list, DISTINCT) without paying the ADC stage.
    */
  private[ops] def probesOf(ix: Index, queries: DataFrame, nprobe: Int): DataFrame = {
    val cent = ix.centroids.select(col("cid").as("c_id"), col("cv"))
    val wAff = Window.partitionBy(col("qid")).orderBy(col("ca").desc, col("c_id"))
    queries.crossJoin(broadcast(cent))
      .select(col("qid"), col("c_id"),
        round(CosineSim.cosine(col("v"), col("cv")), 6).as("ca"))
      .withColumn("crank", row_number().over(wAff))
      .filter(col("crank") <= nprobe)
      .select(col("qid"), col("c_id"))
  }

  /** The candidates of `probes(qid, c_id)`: every live member of a probed
    * list, minus the query itself under `excludeSelf`, confined to
    * `allowed`, as DISTINCT candp(qid, cand).
    */
  private def candidatesOf(ix: Index, probes: DataFrame, excludeSelf: Boolean,
      allowed: Option[DataFrame]): DataFrame = {
    val candBase = broadcast(probes.withColumnRenamed("c_id", "probe_c_id"))
      .join(ix.assigned.as("a"), col("probe_c_id") === col("a.c_id"))
      .select(col("qid"), col("a.vec_id").as("cand"))
    val candSelf = if (excludeSelf) candBase.filter(col("cand") =!= col("qid"))
      else candBase
    allowed.fold(candSelf) { a =>
      candSelf.join(a.select(col("vec_id").as("cand")), Seq("cand"), "left_semi")
    }.distinct()
  }

  /** ADC top-k over the loaded index for external query vectors
    * `queries(qid, v: array<double>)`: q140's plan shape — probes and
    * distance tables broadcast, the code scan joins the candidate list
    * first. `excludeSelf` drops cand == qid (for corpus-member queries,
    * matching q140's semantics). `allowed` is an optional allow-list
    * (`vec_id`) — the ACL/tenant/label filter of q148, applied to the
    * candidate ids BEFORE any code is read, so the ADC scan is confined
    * to probed-list ∩ allow-list members (never a post-filter that
    * k-starves the result). The result reads the call's probe
    * checkpoint lazily ([[graft.Reliable.owned]]): it belongs to the
    * caller's [[graft.Reliable.scoped]] block, or to the session if none
    * is open.
    */
  def search(s: SparkSession, ix: Index, queries: DataFrame, nprobe: Int,
      k: Int, excludeSelf: Boolean = false,
      allowed: Option[DataFrame] = None): DataFrame = graft.Jobs.labeled(s, "ann-index: search") {
    // the probes, checkpointed once: the candidate join and the codes
    // scan's partition pruning both read them, and the list ids the scan
    // prunes to are observed in the checkpoint's own job (the physical
    // "read only probed lists", with no second pass over the centroid
    // cross join and its top-nprobe window)
    val (probes, seen) = graft.Reliable.ownedObserving(
      probesOf(ix, queries, nprobe), collect_set(col("c_id")))
    val probedLists = seen.getSeq[Any](0)
    val candp = candidatesOf(ix, probes, excludeSelf, allowed)
    // per-query block-distance table to the codebook
    val dtab = Quantizer.subBlocks(queries.select(col("qid"), col("v")), Seq("qid"))
      .join(broadcast(ix.codebook), Seq("b"))
      .select(col("qid").as("dqid"), col("b").as("db"), col("cid"),
        Retrieval.distMicro(col("sv"), col("cv")).as("dm"))
    // Candidate-confined code rows, deduped per (cand, block): a torn
    // append heals by re-writing a vector's full block set next to its
    // stale partial rows (see [[append]]), and those leftovers are exact
    // duplicates — min(code) picks the one true code per block so a
    // healed vector can never double-count a block distance. The dedup
    // aggregation runs AFTER the candidate join (probe-bounded rows, and
    // partial-agg collapses duplicates map-side), never over the raw
    // codes table.
    val candCodes = candp.as("x")
      .join(ix.codes.filter(col("c_id").isin(probedLists: _*)).as("cd"),
        col("cd.vec_id") === col("x.cand"))
      .groupBy(col("x.qid").as("qid"), col("x.cand").as("cand"),
        col("cd.b").as("b"))
      .agg(min(col("cd.code")).as("code"))
    val ad = candCodes
      .join(broadcast(dtab),
        col("dqid") === col("qid") && col("db") === col("b") &&
          col("cid") === col("code"))
      .groupBy(col("qid"), col("cand"))
      .agg(sum(col("dm")).as("adist_micro"))
    val w = Window.partitionBy(col("qid")).orderBy(col("adist_micro"), col("cand"))
    ad.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("rnk"), col("cand"),
        (col("adist_micro") / 1000000.0).as("approx_dist"))
  }

  /** nprobe for a TARGET PROBED-LIST FRACTION over the loaded index:
    * ceil(frac · nLists) clamped to [1, nLists]. [[writeScaled]] sizes
    * the list count ~√n, so a FIXED nprobe silently shrinks the probed
    * fraction — and with it candidate COVERAGE (the share of true
    * neighbors whose list is probed at all; measured ADC recall 0.231 →
    * 0.100 as lists grew 45 → 142, BENCH.md round 10) — as the corpus
    * grows. Deriving nprobe from the persisted list count holds the
    * fraction, and therefore coverage, steady across corpus sizes; the
    * centroid count is read from the parquet footers
    * ([[MetaScalar.rows]]), not by a Spark job. Probe
    * cost stays sub-linear: probed rows ≈ frac · n while candidate
    * lists lengthen as √n. Coverage is the ONLY recall surface nprobe
    * controls: the round-11 10x measurement (BENCH.md) showed raw ADC
    * top-k can legitimately FALL as nprobe rises on weakly-clustered
    * data (PQ quantization error outweighs the true cosine gaps, so a
    * larger candidate pool crowds the cut with noise winners) — the
    * quality path is [[searchAuto]] with a shortlist k plus an exact
    * re-rank (q143's shape), which is coverage-bound and inherits the
    * held fraction.
    */
  def autoNprobe(ix: Index, frac: Double): Int = {
    val n = MetaScalar.rows(ix.centroids)
    math.max(1L, math.min(n, math.ceil(frac * n).toLong)).toInt
  }

  /** [[search]] with the probed-list COUNT derived from a target probed
    * fraction ([[autoNprobe]]) instead of a fixed nprobe — the serve
    * call that survives a writeScaled re-size without a config change.
    */
  def searchAuto(s: SparkSession, ix: Index, queries: DataFrame, k: Int,
      frac: Double = 0.15, excludeSelf: Boolean = false,
      allowed: Option[DataFrame] = None): DataFrame =
    search(s, ix, queries, autoNprobe(ix, frac), k, excludeSelf, allowed)

  /** The two-stage QUALITY read path over a persisted index — q143's
    * shortlist-then-rerank shape as a serve API: [[search]] produces an
    * ADC shortlist, and only shortlist rows fetch raw vectors (from
    * `vectors(vec_id, v)` — the store the index was built from) for an
    * exact re-rank in q143's integer micro-unit distances. Both the
    * probe count AND the shortlist scale with the index: nprobe =
    * [[autoNprobe]] (frac), shortlist = `shortlistPerProbe · nprobe`.
    * The scaling matters — the round-11 10x rehearsal (BENCH.md)
    * measured a FIXED 400-row shortlist re-truncating exactly the
    * coverage auto-nprobe had held (end-to-end recall 0.431 vs 0.813
    * coverage at 68 probes): with ~1k-row lists, more probed candidates
    * need a proportionally larger ADC cut for the true neighbors to
    * survive into the exact stage. Per-probe sizing keeps the shortlist
    * a constant fraction of the candidate pool as both grow.
    *
    * At 100 TB: everything upstream of the re-rank is [[search]]'s
    * codes-only plan; the re-rank reads `queries × shortlist` vector
    * rows by id — the shortlist side carries q143's broadcast hints
    * (without them a static planner estimate can shuffle the whole
    * vector store for a point-lookup-sized probe set), so serve batches
    * should stay interactive-sized; corpus-scale scoring jobs belong on
    * the batch operators, not this path.
    */
  def searchRerank(s: SparkSession, ix: Index, vectors: DataFrame,
      queries: DataFrame, k: Int, frac: Double = 0.15,
      shortlistPerProbe: Int = 64, excludeSelf: Boolean = false,
      allowed: Option[DataFrame] = None): DataFrame = graft.Jobs.labeled(s, "ann-index: searchRerank") {
    val np = autoNprobe(ix, frac)
    // Long math, clamped (round-17 advice): the exact gate's corpus-
    // covering spp × a frac=1.0 probe count overflows Int past ~2.1B —
    // negative, math.max would silently collapse the shortlist to k and
    // re-enable the broadcast hints, exactly the truncation + driver-
    // broadcast regime the spp derivation exists to avoid.
    val shortK = math.min(math.max(k.toLong, shortlistPerProbe.toLong * np),
      Int.MaxValue.toLong).toInt
    // EXACT-COVER fast path (round 19, guide §1.2 "don't compute things
    // you throw away"): the exact equivalence gates (RetrainFlow's
    // annGate, q209's serve, IngestionGate.maintain) call this with
    // frac = 1.0 and a corpus-covering shortlist. When every list is
    // probed AND the shortlist bound exceeds the index's live membership,
    // the ADC stage cannot cut a single candidate — its per-candidate
    // code join, distance aggregation and rank window are dead work the
    // exact re-rank below recomputes anyway. Skip straight from the
    // candidate set (IDENTICAL probe/self/allow-list/DISTINCT semantics
    // via probesOf/candidatesOf, the probes left lazy: the final plan
    // reads them once) to the exact re-rank. The membership count
    // comes from the assigned table's parquet footers; only a
    // tombstone-folded table pays a count(), and only in the all-lists
    // regime. Results are bit-identical (the q209/q169 oracles and
    // RetrainFlowSpec gate both paths).
    val exactCover = frac >= 0.999 &&
      shortK.toLong >= MetaScalar.rows(ix.assigned)
    val short =
      if (exactCover)
        candidatesOf(ix, probesOf(ix, queries, np), excludeSelf, allowed)
      else search(s, ix, queries, np, shortK, excludeSelf, allowed)
        .select(col("qid"), col("cand"))
    // The broadcast hints hold for SERVE-sized shortlists (the static
    // planner would otherwise shuffle the whole vector store for a
    // point-lookup probe set). A CORPUS-COVERING shortlist — the exact
    // equivalence gate's spp ≈ n/nLists — is a different regime: at the
    // 100× rehearsal the 16-probe × 700k-row shortlist failed the
    // DRIVER-side broadcast build outright. Past this bound the hints
    // drop and AQE plans the join from measured sizes instead.
    val hint: DataFrame => DataFrame =
      if (shortK <= 65536) broadcast(_) else identity
    val withQ = hint(hint(short)
      .join(queries.select(col("qid"), col("v").as("qv2")), Seq("qid")))
    val er = withQ
      .join(vectors.select(col("vec_id").as("cand"), col("v").as("cv3")), Seq("cand"))
      .select(col("qid"), col("cand"),
        Retrieval.distMicro(col("qv2"), col("cv3")).as("edist_micro"))
    val wR = Window.partitionBy(col("qid")).orderBy(col("edist_micro"), col("cand"))
    er.withColumn("rnk", row_number().over(wR))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("rnk"), col("cand"),
        (col("edist_micro") / 1000000.0).as("exact_dist"))
  }

  /** QUANTIZER-DRIFT MONITOR (round 14) — the retrain trigger the
    * frozen-quantizer serve contract needs: [[append]] deliberately
    * encodes new batches with the build-time quantizers ("retraining
    * only on periodic rebuild"), but nothing said WHEN that rebuild is
    * due. This reports the appended batch's PQ quantization error
    * (mean + exact p95, micro units — the same packed-min distance the
    * ADC ranking sums) next to the persisted build-time baseline
    * (`quantstats`, written by every build path): a batch whose error
    * sits well above the baseline is drawn from a shifted distribution
    * the codebook no longer covers — ADC rankings degrade exactly in
    * that gap, and the operator schedules a rebuild. Cost is
    * O(batch·codebook) — the same arithmetic an [[append]] already
    * pays to encode — plus a 1-row baseline read; never a corpus scan.
    * Output: one row per side, ('baseline' | 'batch', n_vecs,
    * mean_err_micro, p95_err_micro). Oracle-gated as q204 on an
    * affine-drifted fixture; AnnIndexSpec pins identical-batch ≡
    * baseline and drifted-batch strictly above it.
    */
  def quantizationDrift(s: SparkSession, dir: String, batch: DataFrame): DataFrame = {
    val cols = Seq(col("side"), col("n_vecs"), col("mean_err_micro"),
      col("p95_err_micro"))
    val ix = load(s, dir)
    MetaScalar.open(s, s"$dir/quantstats").withColumn("side", lit("baseline"))
      .select(cols: _*)
      .unionByName(errStats(Retrieval.packedMin(batch, ix.codebook))
        .withColumn("side", lit("batch")).select(cols: _*))
  }

  /** [[quantizationDrift]] under the hard gate: the Spark side builds
    * the REAL persisted index (the session-shared fixed-16 layout q202
    * also serves from, so the baseline row comes off parquet through
    * the real lifecycle) and monitors an affine-drifted re-ingest of
    * the vec_id % 10 = 7 slice (x → 1.5x + 0.25 — a distribution shift
    * the frozen codebook was never trained on). The oracle replays the
    * whole chain from raw embeddings — PQ training, packed-min encode
    * errors for corpus AND drifted batch, half-up integer mean, exact
    * rank-selected p95 — and never sees the index, so a stale persisted
    * baseline, a drifted codebook roundtrip, or a wrong rank selection
    * all surface as a hash mismatch. The fixture guarantees the metric
    * MOVES: the drifted mean lands far above the baseline.
    */
  val quantizerDrift = Q(
    "q204_quantizer_drift",
    (s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |${Quantizer.pqTrainCtes(8, "e")},
      |${Retrieval.pqPkCteSql},
      |bmk AS (SELECT vec_id, b, MIN(pk) AS mk FROM pk GROUP BY vec_id, b),
      |bev AS (SELECT vec_id, CAST(SUM(mk // 100) AS BIGINT) AS err FROM bmk GROUP BY vec_id),
      |bt AS (SELECT vec_id, list_transform(v, x -> x * 1.5 + 0.25) AS v
      |       FROM e WHERE vec_id % 10 = 7),
      |tsub AS (
      |  SELECT vec_id, bb.b AS b, list_slice(v, 16*bb.b+1, 16*bb.b+16) AS sv
      |  FROM bt CROSS JOIN (VALUES (0),(1),(2),(3)) bb(b)),
      |tpk AS (
      |  SELECT s.vec_id, s.b,
      |    ${Retrieval.distMicroSql("sv", "cv")} * 100 + cid AS pk
      |  FROM tsub s JOIN ${Quantizer.pqFinal} USING (b)),
      |tmk AS (SELECT vec_id, b, MIN(pk) AS mk FROM tpk GROUP BY vec_id, b),
      |tev AS (SELECT vec_id, CAST(SUM(mk // 100) AS BIGINT) AS err FROM tmk GROUP BY vec_id),
      |bs AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_vecs,
      |    CAST((2 * SUM(err) + COUNT(*)) // (2 * COUNT(*)) AS BIGINT) AS mean_err_micro
      |  FROM bev),
      |bp AS (
      |  SELECT err AS p95_err_micro FROM (
      |    SELECT err, ROW_NUMBER() OVER (ORDER BY err, vec_id) AS rnk,
      |      COUNT(*) OVER () AS n FROM bev)
      |  WHERE rnk = (95 * n + 99) // 100),
      |ts AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_vecs,
      |    CAST((2 * SUM(err) + COUNT(*)) // (2 * COUNT(*)) AS BIGINT) AS mean_err_micro
      |  FROM tev),
      |tp AS (
      |  SELECT err AS p95_err_micro FROM (
      |    SELECT err, ROW_NUMBER() OVER (ORDER BY err, vec_id) AS rnk,
      |      COUNT(*) OVER () AS n FROM tev)
      |  WHERE rnk = (95 * n + 99) // 100)
      |SELECT side, n_vecs, mean_err_micro, p95_err_micro FROM (
      |  SELECT 'baseline' AS side, bs.n_vecs, bs.mean_err_micro, bp.p95_err_micro
      |  FROM bs, bp
      |  UNION ALL
      |  SELECT 'batch' AS side, ts.n_vecs, ts.mean_err_micro, tp.p95_err_micro
      |  FROM ts, tp)
      |ORDER BY side""").stripMargin) { (s, d) =>
    val dir = Dedup.sharedFixedIndexDir(s, d)
    val batch = graft.Tables.embeddings(s, d)
      .filter(col("vec_id") % 10 === 7)
      .select(col("vec_id"),
        expr("transform(CAST(embedding AS ARRAY<DOUBLE>), x -> x * 1.5d + 0.25d)").as("v"))
    quantizationDrift(s, dir, batch).orderBy(col("side"))
  }

  /** [[writeScaled]]'s sample-trained Lloyd under the hard gate — the
    * round-9 verdict's challenge ("the sample-trained Lloyd is
    * deterministic, so a small-n oracle replay may be writable"): run
    * [[scaledSampleCentroids]] at an explicit NON-degenerate sizing
    * (nLists=32 ≠ the static 16; perList=2 so the md5 sample filter
    * actually rejects vectors at sf0.01's corpus size instead of
    * sampling everyone) and emit each trained centroid's full-corpus
    * member count plus its 6-decimal self-dot fingerprint. The oracle
    * recomputes the sample membership (shared md5-prefix hash), renames
    * ids, replays the seeded 2-pass Lloyd ([[Quantizer
    * .centroidTrainCtes]] pointed at the sample CTE), and re-derives
    * the same assignment — so sampling, seeding, training AND final
    * assignment are all value-gated, not just row-counted.
    */
  val scaledIvfBuild = Q(
    "q160_scaled_ivf_build",
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |prm AS (SELECT GREATEST(1, COUNT(*) // 64) AS m FROM e),
      |samp AS (
      |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS vec_id, v
      |  FROM e, prm
      |  WHERE ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 7))::BIGINT % m = 0),
      |${Quantizer.centroidTrainCtes(32, "samp")},
      |cents AS (SELECT cid, cv FROM ${Quantizer.centFinal}),
      |asg AS (
      |  SELECT e.vec_id, cid,
      |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
      |      ORDER BY ROUND(list_dot_product(v,v) - 2*list_dot_product(v,cv)
      |        + list_dot_product(cv,cv), 6), cid) AS rn
      |  FROM e CROSS JOIN cents QUALIFY rn = 1),
      |cnt AS (SELECT cid, COUNT(*) AS n FROM asg GROUP BY cid)
      |SELECT c.cid, CAST(COALESCE(n, 0) AS BIGINT) AS n_members,
      |  ROUND(list_dot_product(cv, cv), 6) AS cnorm
      |FROM cents c LEFT JOIN cnt USING (cid)
      |ORDER BY cid""".stripMargin) { (s, d) =>
    val e = graft.Tables.vectors(s, d).localCheckpoint()
    val cents = scaledSampleCentroids(e, e.count(), nLists = 32, perList = 2L)
    val counts = Quantizer.assignFull(e, cents)
      .groupBy(col("cid")).agg(count(lit(1)).as("n"))
    cents.join(counts, Seq("cid"), "left")
      .select(col("cid"), coalesce(col("n"), lit(0L)).as("n_members"),
        round(DotProduct.dot(col("cv"), col("cv")), 6).as("cnorm"))
      .orderBy(col("cid"))
  }

  /** One writeScaled layout per (session, corpus, sizing), shared by the
    * q168/q169 gates through [[graft.Shared]] (the cached frame is just
    * the 1-row temp-dir path; Shared's listener evicts it with the
    * session): the two queries exercise different READ paths over the
    * same deterministic build, so building it twice per Verify/Bench
    * run would only re-measure the trainer.
    */
  private[ops] def sharedScaledDir(s: SparkSession, d: String, nLists: Int): String = {
    import s.implicits._
    graft.Shared.materialized(s, s"annix-scaled-$d-$nLists") {
      val tmp = graft.TempDirs.create("graft-scaledix")
      writeScaled(s, d, tmp, nListsOverride = Some(nLists))
      Seq(tmp).toDF("dir")
    }.collect()(0).getString(0)
  }

  /** The fraction-derived serve entry point under the hard gate — the
    * round-11 twin of q160: the Spark side runs the REAL persisted
    * lifecycle (writeScaled at an explicit 32-list sizing onto a temp
    * dir, [[load]], [[searchAuto]] at frac = 0.2 → nprobe 7), while the
    * oracle replays the whole chain from public parts it already owns —
    * q160's md5-prefix sample + seeded Lloyd (writeScaled's REAL
    * perList = 50 this time, so the sample rule is gated at production
    * sizing too), q140's probe/candidate/PQ/ADC CTEs at the SAME
    * ceil(frac · nLists) probe count. Hash equality proves the
    * persisted sample-trained index and the auto-probed ADC read are
    * ONE semantics end to end — the layout roundtrip cannot drift from
    * the arithmetic. `excludeSelf = true` matches the q140 family's
    * corpus-member-query semantics (the oracle's candidate CTE drops
    * self).
    */
  val scaledSearchAuto = Q(
    "q168_scaled_searchauto",
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |prm AS (SELECT GREATEST(1, COUNT(*) // ${50 * 32}) AS m FROM e),
      |samp AS (
      |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS vec_id, v
      |  FROM e, prm
      |  WHERE ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 7))::BIGINT % m = 0),
      |${Quantizer.centroidTrainCtes(32, "samp")},
      |${Quantizer.ivfProbeCtes(math.ceil(0.2 * 32).toInt, 5)},
      |${Quantizer.ivfCandCte(keepListId = false)},
      |${Quantizer.pqTrainCtes(8)},
      |${Retrieval.pqPkCteSql},
      |codes AS (SELECT vec_id, b, CAST(MIN(pk) % 100 AS INTEGER) AS code
      |          FROM pk GROUP BY vec_id, b),
      |dtab AS (
      |  SELECT s.vec_id AS qid, b, cid,
      |    ${Retrieval.distMicroSql("sv", "cv")} AS dm
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
    val ix = load(s, sharedScaledDir(s, d, 32))
    val queries = graft.Tables.embeddings(s, d)
      .filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"),
        graft.functions.VectorFunctions.asDouble(col("embedding")).as("v"))
    searchAuto(s, ix, queries, k = 3, frac = 0.2, excludeSelf = true)
      .orderBy(col("qid"), col("rnk"))
  }

  /** [[searchRerank]] under the hard gate — q168's persisted
    * sample-trained lifecycle extended through the exact re-rank stage:
    * the Spark side runs writeScaled → load → searchRerank (frac = 0.2
    * → nprobe 7, shortlist = 64·7 = 448) and the oracle replays the
    * full chain — q160's sample + Lloyd, q140's probe/candidate/PQ/ADC,
    * then q143's shortlist + exact-micro-distance re-rank — at the same
    * derived constants. The ADC stage uses the same CTEs as q168, so a
    * drift between the one-stage and two-stage serve paths would break
    * exactly one of the two gates and name the stage.
    */
  val scaledSearchRerank = Q(
    "q169_scaled_search_rerank",
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |prm AS (SELECT GREATEST(1, COUNT(*) // ${50 * 32}) AS m FROM e),
      |samp AS (
      |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS vec_id, v
      |  FROM e, prm
      |  WHERE ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 7))::BIGINT % m = 0),
      |${Quantizer.centroidTrainCtes(32, "samp")},
      |${Quantizer.ivfProbeCtes(math.ceil(0.2 * 32).toInt, 5)},
      |${Quantizer.ivfCandCte(keepListId = false)},
      |${Quantizer.pqTrainCtes(8)},
      |${Retrieval.pqPkCteSql},
      |codes AS (SELECT vec_id, b, CAST(MIN(pk) % 100 AS INTEGER) AS code
      |          FROM pk GROUP BY vec_id, b),
      |dtab AS (
      |  SELECT s.vec_id AS qid, b, cid,
      |    ${Retrieval.distMicroSql("sv", "cv")} AS dm
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
      |  FROM ad QUALIFY srnk <= ${64 * math.ceil(0.2 * 32).toInt}),
      |er AS (
      |  SELECT sh.qid, sh.cand,
      |    ${Retrieval.distMicroSql("q.v", "c.v")} AS edist_micro
      |  FROM short sh JOIN e q ON q.vec_id = sh.qid JOIN e c ON c.vec_id = sh.cand),
      |r AS (
      |  SELECT qid, cand, edist_micro,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY qid
      |      ORDER BY edist_micro, cand) AS INTEGER) AS rnk
      |  FROM er QUALIFY rnk <= 3)
      |SELECT qid, rnk, cand, edist_micro / 1000000.0 AS exact_dist
      |FROM r ORDER BY qid, rnk""".stripMargin) { (s, d) =>
    val ix = load(s, sharedScaledDir(s, d, 32))
    val e = graft.Tables.vectors(s, d)
    val queries = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("v"))
    searchRerank(s, ix, e, queries, k = 3, frac = 0.2,
        shortlistPerProbe = 64, excludeSelf = true)
      .orderBy(col("qid"), col("rnk"))
  }

  def specs: Seq[Q] = Seq(scaledIvfBuild, scaledSearchAuto, scaledSearchRerank,
    quantizerDrift)
}
