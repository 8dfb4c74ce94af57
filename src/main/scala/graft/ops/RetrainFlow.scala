package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ACT-ON-ALARM retrain composition (round 15) — the chain the
  * frozen-model serve contracts were missing: the drift-monitor trio
  * (q204 quantizer / q207 LM / q208 classifier) says WHEN a frozen
  * model has gone stale, and the release-upgrade family (q163–q166)
  * covers HOW a layout rolls forward, but nothing exercised
  * alarm → rebuild → serve-equivalence gate → swap as ONE flow. These
  * cycles do, idempotently per serving dir:
  *
  *  1. **Alarm** — the persisted monitor read ([[AnnIndex.quantizationDrift]]
  *     / [[LmModel.scoreDrift]]), reduced to one integer ppm ratio
  *     (floor division, the oracle arithmetic — deterministic, no
  *     float thresholds). Below threshold the cycle is a no-op: the
  *     serving dir is untouched and no staging is built.
  *  2. **Rebuild into STAGING** — a fresh train over the new regime
  *     (serving corpus ∪ drifted batch) under `$dir-staging`, never in
  *     place: the serving layout keeps answering queries while the
  *     replacement trains, and a failed gate leaves it untouched.
  *  3. **Gate** — before any swap:
  *     (a) serve equivalence (ANN): the staged index must return the
  *         IDENTICAL exact-reranked top-k as the serving index for a
  *         caller-supplied probe set of UNDRIFTED queries, with the
  *         staged search allow-listed to the shared corpus (the new
  *         batch's vectors are legitimately new answers, not a
  *         regression) — a retrain that lost recall on the data it
  *         already served must not ship;
  *     (b) recovery: the alarm re-read against the STAGED layout must
  *         clear — the drifted batch re-encodes/re-scores inside the
  *         new baseline's threshold, else the rebuild didn't fix what
  *         the alarm reported. This deliberately refuses an OUTLIER
  *         slice: a small batch far off-distribution still dominates
  *         the p95 tail after a union retrain (codebook mass follows
  *         the corpus, measured in RetrainFlowSpec), and shipping a
  *         new index for it would churn serving state without curing
  *         the alarm — a genuine regime SHIFT (batch mass comparable
  *         to the corpus) retrains codes onto the new mode and clears.
  *  4. **Swap** — two filesystem renames: serving → `$dir-retired`
  *     (replacing any previous retiree), staging → serving. The new
  *     baseline (every build path writes its own `quantstats` /
  *     `scorestats`) is already inside the staged layout, so the swap
  *     atomically retires the old baseline with the old model — a
  *     stale-baseline window cannot exist. The instant between the two
  *     renames is not atomic; a serve tier that cannot tolerate it
  *     fronts the path with its own pointer (the [[IngestionGate]]
  *     marker discipline).
  *
  * 100 TB shape: the alarm is O(batch) + a 1-row baseline read (the
  * monitors' contract); the equivalence gate is probe-bounded (a
  * serve-contract-sized query set, collected once per side); the
  * rebuild is the one deliberately corpus-sized step — which is the
  * point: the flow exists so that cost is paid exactly when measured
  * drift demands it, not on a timer. RetrainFlowSpec pins the no-op,
  * the full swap, the gate refusal (a staged index that lost recall
  * does NOT ship), and post-swap alarm clearance.
  */
object RetrainFlow {

  private val Micro = 1000000L

  /** One cycle's outcome. `servingDir` is where queries should go after
    * the cycle (always the original `dir`; its CONTENTS swap).
    * `msRebuild`/`msGate` (round 17) split an alarmed ANN cycle's cost
    * into the staged rebuild vs the pre-swap gate — the exact-vs-
    * sampled gate-mode trade is adjudicable only with the two costs
    * separated (IndexBench's maintainloop rows read them); 0 on no-op
    * cycles and on the text cycles (whose gate is one alarm re-read).
    */
  final case class Result(alarmed: Boolean, alarmPpm: Long, rebuilt: Boolean,
      equivalent: Boolean, recovered: Boolean, swapped: Boolean,
      servingDir: String, msRebuild: Long = 0L, msGate: Long = 0L)

  private def fsOf(s: SparkSession, dir: String) =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)

  private def rm(s: SparkSession, dir: String): Unit =
    fsOf(s, dir).delete(new org.apache.hadoop.fs.Path(dir), true)

  private[graft] def swapDirs(s: SparkSession, dir: String, staging: String): Unit = {
    val fs = fsOf(s, dir)
    val retired = new org.apache.hadoop.fs.Path(s"$dir-retired")
    fs.delete(retired, true)
    require(fs.rename(new org.apache.hadoop.fs.Path(dir), retired),
      s"swap: could not retire $dir")
    require(fs.rename(new org.apache.hadoop.fs.Path(staging),
      new org.apache.hadoop.fs.Path(dir)),
      s"swap: could not promote $staging (serving dir retired to $retired)")
  }

  /** The ANN alarm as one integer: ppm ratio of the batch's p95
    * quantization error to the persisted baseline's (1_000_000 =
    * exactly at baseline). Floor division — the monitors' oracle
    * arithmetic.
    */
  private[graft] def annAlarmPpm(s: SparkSession, dir: String,
      batch: DataFrame): Long = {
    val m = AnnIndex.quantizationDrift(s, dir, batch).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    Math.floorDiv(m("batch") * Micro, math.max(m("baseline"), 1L))
  }

  /** The LM alarm: ppm ratio of the BASELINE p05 doc score to the
    * batch's (scores drift DOWN, so the ratio grows as the batch falls
    * below the baseline).
    */
  private[graft] def lmAlarmPpm(s: SparkSession, dir: String,
      batch: DataFrame): Long = {
    val m = LmModel.scoreDrift(s, dir, batch).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    Math.floorDiv(m("baseline") * Micro, math.max(m("batch"), 1L))
  }

  /** The pre-swap gate, separated so a spec can drive it with an
    * arbitrary staged layout: (a) serve equivalence — identical
    * exact-reranked top-k on the undrifted probes, the staged side
    * allow-listed to the corpus both indexes share (the batch's vectors
    * are legitimately new answers, not a regression); (b) recovery —
    * the alarm re-read against the staged layout clears.
    *
    * Gate mode (round 16 — the exact gate's O(corpus) cost made policy):
    * at `recallPpm = 1_000_000` (the default) equivalence is IDENTICAL
    * top-k tuples, which demands a shortlist covering the probed lists —
    * an O(corpus) exact pass per swap attempt, the right contract when a
    * swap is rare and correctness-critical. Below 1_000_000 the gate is
    * a SAMPLED-PROBE check: the staged index must retain at least
    * recallPpm/1e6 of the serving index's (qid, cand) answers, rank-
    * agnostic — sized for a bounded `shortlistPerProbe`, where two
    * honestly-retrained codebooks legitimately cut different shortlist
    * survivors (the measured mechanism in [[annCycle]]'s doc), so a
    * 100 TB operator can trade a recall tolerance for not paying a
    * corpus-covering scan on every swap attempt.
    */
  private[graft] def annGate(s: SparkSession, dir: String, staging: String,
      oldStore: DataFrame, newStore: DataFrame, batch: DataFrame,
      probes: DataFrame, k: Int, frac: Double,
      alarmRatioPpm: Long, shortlistPerProbe: Int = 64,
      recallPpm: Long = Micro): (Boolean, Boolean) = {
    def topk(ixDir: String, store: DataFrame,
        allowed: Option[DataFrame]): Set[(Long, Int, Long)] =
      AnnIndex.searchRerank(s, AnnIndex.load(s, ixDir), store, probes, k,
        frac, shortlistPerProbe, allowed = allowed)
        .select(col("qid"), col("rnk"), col("cand")).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val oldTop = topk(dir, oldStore, None)
    // The staged side's allow-list is the SERVING INDEX's membership
    // (tombstone-filtered assigned ids), NOT the raw vector store
    // (round-17 advice): after a crash between maintain's store-first
    // companion swap and the index swap, the replayed cycle's store
    // already contains the batch — a store-derived allow-list would
    // admit batch vectors into the staged top-k that the old index can
    // never return, refusing the swap on every retry and leaving the
    // layout permanently half-swapped. "Data it already served" is by
    // definition what the old index can answer from.
    val served = AnnIndex.load(s, dir).assigned.select(col("vec_id"))
    val newTop = topk(staging, newStore, Some(served))
    val equivalent =
      if (recallPpm >= Micro) oldTop == newTop
      else {
        val oldAns = oldTop.map(t => (t._1, t._3))
        val newAns = newTop.map(t => (t._1, t._3))
        oldAns.isEmpty ||
          Math.floorDiv(oldAns.count(newAns.contains).toLong * Micro,
            oldAns.size.toLong) >= recallPpm
      }
    (equivalent, annAlarmPpm(s, staging, batch) <= alarmRatioPpm)
  }

  /** Alarm → retrain → gate → swap for a persisted [[AnnIndex]].
    *
    * `vectors` is the index's full-precision store (the same frame
    * every re-rank/semantic serve path takes), `batch` the monitored
    * intake slice, `probes(qid, v)` the UNDRIFTED serve-equivalence
    * query set (serve-contract bounded — it is collected per side).
    * Fires when the batch's p95 encode error exceeds
    * `alarmRatioPpm` × baseline (default 1.5× — past it, ADC rankings
    * over the batch are ordering noise, the q204 contract).
    *
    * The equivalence gate demands IDENTICAL top-k, so the gate-time
    * search must not truncate recall differently per codebook: two
    * honestly-retrained indexes rank their ADC shortlists differently,
    * and a shortlist smaller than the probed candidate pool cuts
    * different survivors on each side (measured at 2048 vectors:
    * 64·16 = 1024-row shortlists flunked an honest rebuild). For an
    * exact-equality contract size `frac`/`shortlistPerProbe` so
    * shortlists cover the probed lists at gate time — the gate is
    * probe-bounded, so paying exact search on 16 queries is noise next
    * to the rebuild it guards. `shortlistPerProbe` is BY-NAME: the
    * corpus-covering derivation ([[IngestionGate.maintain]]'s
    * store-count pass) is only paid when the alarm actually fires.
    * `recallPpm < 1_000_000` switches the gate to [[annGate]]'s
    * sampled-probe mode. `beforeSwap` runs after both gates pass and
    * immediately before the index swap — the seam a caller rolls
    * companion state through (maintain swaps the raw vector store here,
    * store-FIRST, so the serving index never references ids absent
    * from it). It receives the cycle's OWN deduplicated union — the
    * exact frame the staged index was built from — so companion state
    * written through the seam cannot keep a different row than the
    * index encoded for any vec_id.
    */
  def annCycle(s: SparkSession, dir: String, vectors: DataFrame,
      batch: DataFrame, probes: DataFrame, k: Int = 10,
      frac: Double = 0.25, alarmRatioPpm: Long = 1500000L,
      shortlistPerProbe: => Int = 64, recallPpm: Long = Micro,
      beforeSwap: DataFrame => Unit = _ => ()): Result = {
    val ppm = annAlarmPpm(s, dir, batch)
    if (ppm <= alarmRatioPpm)
      return Result(alarmed = false, ppm, rebuilt = false,
        equivalent = false, recovered = false, swapped = false, dir)
    val staging = s"$dir-staging"
    rm(s, staging)
    // DETERMINISTIC union (round-17 advice; replaces dropDuplicates,
    // whose pick is evaluation-order-dependent): batch wins a store
    // collision — a re-embedded id ships its NEW vector — and
    // intra-batch duplicate ids reduce by array max. Keeps the cycle
    // idempotent under at-least-once replay (a crash after maintain's
    // store-first companion swap re-runs this cycle with the batch
    // already absorbed in `vectors`; the anti-join collapses the
    // duplicates identically on every evaluation), and because every
    // row's pick is a pure function of the data, the staged index build
    // here and any companion write in `beforeSwap` (which receives this
    // frame) agree under double evaluation — no corpus-sized
    // checkpoint needed to pin them together.
    val bDedup = batch.select(col("vec_id"), col("v"))
      .groupBy(col("vec_id")).agg(max(col("v")).as("v"))
    val newVecs = vectors.select(col("vec_id"), col("v"))
      .join(bDedup, Seq("vec_id"), "left_anti")
      .unionByName(bDedup)
    val tR = System.nanoTime()
    AnnIndex.writeVectors(s, newVecs, staging)
    val msRebuild = (System.nanoTime() - tR) / 1000000L
    val tG = System.nanoTime()
    val (equivalent, recovered) =
      annGate(s, dir, staging, vectors, newVecs, batch, probes, k, frac,
        alarmRatioPpm, shortlistPerProbe, recallPpm)
    val msGate = (System.nanoTime() - tG) / 1000000L
    if (equivalent && recovered) {
      beforeSwap(newVecs)
      swapDirs(s, dir, staging)
      Result(alarmed = true, ppm, rebuilt = true, equivalent = true,
        recovered = true, swapped = true, dir, msRebuild, msGate)
    } else // staging is LEFT for inspection; serving dir untouched
      Result(alarmed = true, ppm, rebuilt = true, equivalent, recovered,
        swapped = false, dir, msRebuild, msGate)
  }

  /** Alarm → retrain → gate → swap for a persisted [[LmModel]]. The LM
    * retrains on corpus ∪ batch, so undrifted documents legitimately
    * score DIFFERENTLY under the new table (the token total moves every
    * probability) — there is no bit-equivalence gate to demand; the
    * shipped gate is recovery: the batch's score distribution must
    * clear the alarm against the staged model's fresh baseline. The
    * staged layout carries its own scorestats (written here, after the
    * train), so the swap retires model and baseline together.
    */
  def lmCycle(s: SparkSession, dir: String, corpus: DataFrame,
      batch: DataFrame, alarmRatioPpm: Long = 1500000L): Result = {
    val ppm = lmAlarmPpm(s, dir, batch)
    if (ppm <= alarmRatioPpm)
      return Result(alarmed = false, ppm, rebuilt = false,
        equivalent = false, recovered = false, swapped = false, dir)
    val staging = s"$dir-staging"
    rm(s, staging)
    // normalize to the model columns: callers hand corpora with extra
    // metadata columns, batches usually just (doc_id, text)
    val newCorpus = corpus.select(col("doc_id"), col("text"))
      .unionByName(batch.select(col("doc_id"), col("text")))
    LmModel.write(s, newCorpus, staging)
    LmModel.writeScoreStats(s, staging, newCorpus)
    val stagedPpm = lmAlarmPpm(s, staging, batch)
    val recovered = stagedPpm <= alarmRatioPpm
    if (recovered) {
      swapDirs(s, dir, staging)
      Result(alarmed = true, ppm, rebuilt = true, equivalent = true,
        recovered = true, swapped = true, dir)
    } else
      Result(alarmed = true, ppm, rebuilt = true, equivalent = true,
        recovered = false, swapped = false, dir)
  }

  /** The classifier alarm: identical contract to [[lmAlarmPpm]] (p05
    * drifts DOWN as a degraded corpus scores down).
    */
  private[graft] def qmAlarmPpm(s: SparkSession, dir: String,
      batch: DataFrame): Long = {
    val m = QualityModel.scoreDrift(s, dir, batch).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    Math.floorDiv(m("baseline") * Micro, math.max(m("batch"), 1L))
  }

  /** Alarm → retrain → gate → swap for a persisted [[QualityModel]] —
    * the third member of the trio, [[lmCycle]]'s contract verbatim: the
    * classifier retrains on corpus ∪ batch (weights AND training means
    * move, so undrifted documents legitimately re-score — no
    * bit-equivalence gate), and the shipped gate is recovery against
    * the staged model's fresh baseline. Swap retires model + baseline
    * together.
    */
  def qmCycle(s: SparkSession, dir: String, corpus: DataFrame,
      batch: DataFrame, alarmRatioPpm: Long = 1500000L): Result = {
    val ppm = qmAlarmPpm(s, dir, batch)
    if (ppm <= alarmRatioPpm)
      return Result(alarmed = false, ppm, rebuilt = false,
        equivalent = false, recovered = false, swapped = false, dir)
    val staging = s"$dir-staging"
    rm(s, staging)
    val newCorpus = corpus.select(col("doc_id"), col("text"))
      .unionByName(batch.select(col("doc_id"), col("text")))
    QualityModel.write(s, newCorpus, staging)
    QualityModel.writeScoreStats(s, staging, newCorpus)
    val recovered = qmAlarmPpm(s, staging, batch) <= alarmRatioPpm
    if (recovered) {
      swapDirs(s, dir, staging)
      Result(alarmed = true, ppm, rebuilt = true, equivalent = true,
        recovered = true, swapped = true, dir)
    } else
      Result(alarmed = true, ppm, rebuilt = true, equivalent = true,
        recovered = false, swapped = false, dir)
  }

  /** Recursive filesystem copy of a persisted layout — the clone an
    * index-MUTATING flow takes of a session-shared build (the swap must
    * never retire a dir other queries serve from).
    */
  private[graft] def copyDir(s: SparkSession, src: String, dst: String): Unit = {
    val conf = s.sparkContext.hadoopConfiguration
    val sp = new org.apache.hadoop.fs.Path(src)
    val dp = new org.apache.hadoop.fs.Path(dst)
    val fs = sp.getFileSystem(conf)
    require(org.apache.hadoop.fs.FileUtil.copy(fs, sp,
      dp.getFileSystem(conf), dp, false, conf), s"copy $src -> $dst failed")
  }

  /** HARD-LINK clone of a local persisted layout (round 18): parquet
    * files are immutable once committed — every mutation in this repo
    * appends NEW files or deletes/renames whole files and directories,
    * never writes into an existing file — so a clone whose regular
    * files are hard links to the source's is indistinguishable from a
    * byte copy to every reader, while costing directory metadata
    * instead of data I/O (the byte copy of a 268-file dedup layout was
    * ~1.9 s of each q165 invocation; links are ~ms). A mutation in the
    * clone (append = new inode; overwrite/delete = unlink) can never
    * reach the shared source's bytes. Falls back to [[copyDir]] when
    * the paths are not both on a local filesystem that supports links
    * (cross-device links throw).
    */
  private[graft] def linkCloneDir(s: SparkSession, src: String, dst: String): Unit = {
    import java.nio.file.{Files, Path, Paths}
    val sp = Paths.get(src)
    if (!Files.isDirectory(sp)) return copyDir(s, src, dst)
    try {
      val walk = Files.walk(sp)
      try {
        walk.forEach { p: Path =>
          val target = Paths.get(dst).resolve(sp.relativize(p).toString)
          if (Files.isDirectory(p)) Files.createDirectories(target)
          else Files.createLink(target, p)
        }
      } finally walk.close()
    } catch {
      // UncheckedIOException: Files.walk's stream iteration surfaces
      // directory-read failures wrapped (round-18 advice) — without it a
      // walk-time failure would propagate instead of falling back to bytes
      case _: UnsupportedOperationException | _: java.io.IOException |
           _: java.io.UncheckedIOException =>
        // cross-device, permission, or non-local fs: fall back to bytes
        val dp = Paths.get(dst)
        if (Files.exists(dp)) {
          val w = Files.walk(dp)
          try w.sorted(java.util.Comparator.reverseOrder[Path]())
            .forEach(f => Files.deleteIfExists(f))
          finally w.close()
        }
        copyDir(s, src, dst)
    }
  }

  /** One full ANN cycle per (session, corpus): v1 index over the
    * embeddings table, regime-shift batch (every vector re-ingested
    * under the q204 affine drift with shifted ids), [[annCycle]] with a
    * corpus-covering gate shortlist — cached as a 1-row (dir, alarmed,
    * alarm_ppm, swapped) frame, the [[Dedup.sharedFixedIndexDir]]
    * sharing pattern. The v1 index is a [[copyDir]] CLONE of that
    * session-shared fixed-16 layout (round 16 — the r15 verdict's
    * one-shot item): [[AnnIndex.write]] and [[AnnIndex.writeVectors]]
    * train the identical centroids/codebook/codes on this corpus (same
    * seeds, iters, projection — the q209 oracle hash-gates the
    * equivalence), so cloning saves the one-shot a full Lloyd+PQ build
    * while the cycle still mutates only its own copy.
    */
  private def sharedAnnCycle(s: SparkSession, d: String): (String, Boolean, Long, Boolean) = {
    import s.implicits._
    val row = graft.Shared.materialized(s, s"retrain-cycle@$d") {
      val e = graft.Tables.vectors(s, d).localCheckpoint(true)
      val dir = graft.TempDirs.create("graft-rtcycle") + "/ann"
      linkCloneDir(s, Dedup.sharedFixedIndexDir(s, d), dir)
      val batch = e.select((col("vec_id") + 1000000000L).as("vec_id"),
        expr("transform(v, x -> x * 1.5d + 0.25d)").as("v"))
      val probes = e.filter(col("vec_id") < 16)
        .select(col("vec_id").as("qid"), col("v"))
      val spp = AnnIndex.perListCover(2 * e.count(), 16)
      val r = annCycle(s, dir, e, batch, probes, k = 10, frac = 1.0,
        shortlistPerProbe = spp)
      Seq((dir, r.alarmed, r.alarmPpm, r.swapped))
        .toDF("dir", "alarmed", "alarm_ppm", "swapped")
    }.collect()(0)
    (row.getString(0), row.getBoolean(1), row.getLong(2), row.getBoolean(3))
  }

  /** The full cycle under the hard gate: the Spark side runs the REAL
    * alarm → staged rebuild → gates → swap against persisted layouts
    * ([[sharedAnnCycle]]) and then SERVES the 16 undrifted probes off
    * whatever directory the cycle left serving, emitting the answers
    * next to the cycle's decision columns. The oracle replays the whole
    * chain from the raw embeddings table — old-codebook PQ training +
    * p95s (the alarm), union-retrained codebook + p95s (the recovery
    * gate), the swap predicate, and brute-force exact top-k over the
    * UNION corpus (what a correctly-swapped index must answer) — and
    * never sees a persisted byte. So a cycle that fails to swap, swaps
    * without recovering, or swaps in an index that lost recall all
    * surface as a hash mismatch, not a green row.
    */
  val retrainCycle = graft.Q(
    "q209_retrain_cycle",
    (s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |${Quantizer.pqTrainCtes(8, "e")},
      |${Retrieval.pqPkCteSql},
      |bmk AS (SELECT vec_id, b, MIN(pk) AS mk FROM pk GROUP BY vec_id, b),
      |bev AS (SELECT vec_id, CAST(SUM(mk // 100) AS BIGINT) AS err FROM bmk GROUP BY vec_id),
      |bp AS (SELECT err AS p95 FROM (
      |         SELECT err, ROW_NUMBER() OVER (ORDER BY err, vec_id) AS rnk,
      |           COUNT(*) OVER () AS n FROM bev)
      |       WHERE rnk = (95 * n + 99) // 100),
      |bt AS (SELECT vec_id + 1000000000 AS vec_id,
      |         list_transform(v, x -> x * 1.5 + 0.25) AS v FROM e),
      |tsub AS (
      |  SELECT vec_id, bb.b AS b, list_slice(v, 16*bb.b+1, 16*bb.b+16) AS sv
      |  FROM bt CROSS JOIN (VALUES (0),(1),(2),(3)) bb(b)),
      |tpk AS (
      |  SELECT s.vec_id, s.b,
      |    ${Retrieval.distMicroSql("sv", "cv")} * 100 + cid AS pk
      |  FROM tsub s JOIN ${Quantizer.pqFinal} USING (b)),
      |tmk AS (SELECT vec_id, b, MIN(pk) AS mk FROM tpk GROUP BY vec_id, b),
      |tev AS (SELECT vec_id, CAST(SUM(mk // 100) AS BIGINT) AS err FROM tmk GROUP BY vec_id),
      |tp AS (SELECT err AS p95 FROM (
      |         SELECT err, ROW_NUMBER() OVER (ORDER BY err, vec_id) AS rnk,
      |           COUNT(*) OVER () AS n FROM tev)
      |       WHERE rnk = (95 * n + 99) // 100),
      |al AS (SELECT CAST((tp.p95 * 1000000) // GREATEST(bp.p95, 1) AS BIGINT) AS alarm_ppm
      |       FROM bp, tp),
      |u AS (SELECT * FROM e UNION ALL SELECT * FROM bt),
      |${Quantizer.pqTrainCtes(8, "u", "v", "nw")},
      |npk AS (
      |  SELECT s.vec_id, s.b,
      |    ${Retrieval.distMicroSql("sv", "cv")} * 100 + cid AS pk
      |  FROM nwsub s JOIN ${Quantizer.pqFinalP("nw")} USING (b)),
      |nmk AS (SELECT vec_id, b, MIN(pk) AS mk FROM npk GROUP BY vec_id, b),
      |nev AS (SELECT vec_id, CAST(SUM(mk // 100) AS BIGINT) AS err FROM nmk GROUP BY vec_id),
      |nbp AS (SELECT err AS p95 FROM (
      |          SELECT err, ROW_NUMBER() OVER (ORDER BY err, vec_id) AS rnk,
      |            COUNT(*) OVER () AS n FROM nev)
      |        WHERE rnk = (95 * n + 99) // 100),
      |ntp AS (SELECT err AS p95 FROM (
      |          SELECT err, ROW_NUMBER() OVER (ORDER BY err, vec_id) AS rnk,
      |            COUNT(*) OVER () AS n FROM nev WHERE vec_id >= 1000000000)
      |        WHERE rnk = (95 * n + 99) // 100),
      |rec AS (SELECT CAST((ntp.p95 * 1000000) // GREATEST(nbp.p95, 1) AS BIGINT) AS post_ppm
      |        FROM nbp, ntp),
      |pr AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 16),
      |er AS (SELECT qid, u.vec_id AS cand,
      |         ${Retrieval.distMicroSql("qv", "u.v")} AS edist_micro
      |       FROM pr, u),
      |top AS (SELECT qid, cand, edist_micro,
      |          CAST(ROW_NUMBER() OVER (PARTITION BY qid
      |            ORDER BY edist_micro, cand) AS INTEGER) AS rnk
      |        FROM er QUALIFY rnk <= 10)
      |SELECT qid, rnk, cand, edist_micro / 1000000.0 AS exact_dist,
      |  al.alarm_ppm AS alarm_ppm,
      |  al.alarm_ppm > 1500000 AS alarmed,
      |  (al.alarm_ppm > 1500000 AND rec.post_ppm <= 1500000) AS swapped
      |FROM top, al, rec ORDER BY qid, rnk""").stripMargin) { (s, d) =>
    val (dir, alarmed, ppm, swapped) = sharedAnnCycle(s, d)
    val e = graft.Tables.vectors(s, d)
    val store = e.unionByName(e.select((col("vec_id") + 1000000000L).as("vec_id"),
      expr("transform(v, x -> x * 1.5d + 0.25d)").as("v")))
    val probes = e.filter(col("vec_id") < 16)
      .select(col("vec_id").as("qid"), col("v"))
    val spp = AnnIndex.perListCover(2 * e.count(), 16)
    AnnIndex.searchRerank(s, AnnIndex.load(s, dir), store, probes, k = 10,
      frac = 1.0, shortlistPerProbe = spp)
      .withColumn("alarm_ppm", lit(ppm))
      .withColumn("alarmed", lit(alarmed))
      .withColumn("swapped", lit(swapped))
      .orderBy(col("qid"), col("rnk"))
  }

  def specs: Seq[graft.Q] = Seq(retrainCycle)
}
