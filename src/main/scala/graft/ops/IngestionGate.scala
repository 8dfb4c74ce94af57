package graft.ops

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The COMPOSED streaming ingestion gate — the persisted serve paths
  * chained the way a production corpus intake actually runs them: an
  * arriving document batch is (1) near-dup-checked against the
  * persisted [[DedupIndex]], (2) LM-scored against the persisted
  * [[LmModel]], (3) optionally classifier-scored against the persisted
  * [[QualityModel]], (4, round 14, optional) SEMANTIC-dup-checked
  * against a persisted [[AnnIndex]] via
  * [[Dedup.semanticDedupBatch]] — the rejection class stages 1–3
  * cannot catch: a paraphrase or re-render that is lexically novel but
  * embedding-near-identical to a corpus member — and finally the
  * survivors are appended to the dedup index AND the semantic layout
  * (so the NEXT batch deduplicates against them, lexically and
  * semantically) and landed in the accepted-corpus sink. The LM and
  * classifier models stay frozen — a probability model is versioned
  * per corpus release, not incrementally mutated (see [[LmModel]]'s
  * object doc); the semantic index keeps its FROZEN quantizers on
  * append ([[AnnIndex.append]]'s standard serve contract).
  *
  * Every stage is O(batch + pruned index slice): the dedup check is the
  * band-bucket-pruned [[DedupIndex.queryBatch]], the score is the
  * gram-bucket-pruned [[LmModel.scoreBatch]], and the append is
  * [[DedupIndex.append]]'s idempotent batch write. Nothing in the gate
  * ever scans the corpus, so the same loop that gates 5k documents
  * locally gates a 100 TB corpus's intake stream — per-batch cost
  * tracks the batch.
  *
  * Admission policy: a document is admitted iff it is NOT a near-dup of
  * the live index (max estimated Jaccard < `maxJaccard`) AND it scores
  * at least `minMeanPpm` against the LM. Documents too short to score
  * (< 2 tokens ⇒ no transitions) are rejected — an unscoreable document
  * has no place in a training corpus this gate is guarding.
  *
  * Intra-batch duplicates: by default the dedup guarantee is
  * CROSS-BATCH — two near-identical novel documents arriving in the
  * same micro-batch are both admitted (each is novel against the index
  * at decision time; the next batch deduplicates against both). For
  * intakes whose batches can self-collide, `selfDedup = true` adds a
  * batch-self LSH pass (the batch's bands joined against themselves
  * through the same capped [[DedupIndex.candidatePairs]] join, keeping
  * the min doc_id of each verified near-dup pair) before the index
  * check — still O(batch), since both join sides are the batch — and,
  * when the semantic stage is on, a batch-self SEMANTIC sweep after it
  * (the batch's vectors assigned with the index's frozen centroids and
  * swept against themselves through the capped
  * [[Dedup.dominatedBy]] kernel), so two same-batch paraphrases
  * also collapse to the min-doc_id representative.
  *
  * Streaming form: run [[gateBatch]] inside `foreachBatch`
  * ([[graft.streaming.EventStream.toForeachBatch]]) — IngestionGateSpec
  * proves micro-batched streaming execution lands the exact accepted
  * set and index state the same batches produce when applied directly,
  * including the cross-batch property (a near-dup of a document
  * accepted one batch earlier is rejected).
  */
object IngestionGate {

  /** Gate configuration: the persisted model locations, the
    * accepted-corpus sink, and the admission thresholds. `qualityDir`
    * adds the optional third stage — the persisted [[QualityModel]]
    * classifier, admitting only docs scoring ≥ `minQualityPpm`.
    * `semanticDir` adds the optional FOURTH stage — a [[writeSemantic]]
    * layout (frozen-quantizer AnnIndex + raw vector store); batches
    * must then carry a `v` embedding column, and a doc whose embedding
    * is dominated by any live corpus vector at cosine ≥ `semanticTau`
    * is rejected ([[Dedup.semanticDedupBatch]]'s capped
    * cluster-confined sweep — O(batch·k + cluster slices), never a
    * corpus scan).
    */
  case class Config(dedupDir: String, lmDir: String, acceptedDir: String,
    maxJaccard: Double = 0.5, minMeanPpm: Long = 1L,
    qualityDir: Option[String] = None, minQualityPpm: Long = 500000L,
    selfDedup: Boolean = false,
    semanticDir: Option[String] = None, semanticTau: Double = 0.4)

  /** Build the semantic stage's layout under `dir`: a frozen-quantizer
    * [[AnnIndex]] over `corpusVecs(vec_id, v)` plus the raw vector
    * store the exact-cosine sweep reads (the index holds ids + codes;
    * tombstones on the index side govern liveness for both).
    */
  def writeSemantic(s: SparkSession, corpusVecs: DataFrame, dir: String): Unit = graft.Reliable.scoped {
    val v = graft.Reliable.owned(corpusVecs.select(col("vec_id"), col("v")))
    AnnIndex.writeVectors(s, v, s"$dir/ann")
    v.write.mode("overwrite").parquet(s"$dir/vecs")
  }

  /** The pure decision: which of `batch(doc_id, text)` would the gate
    * admit right now, against the CURRENT index state? No writes — this
    * is the serve-latency path IndexBench times, and the unit the
    * mutating [[gateBatch]] composes. The result is lazy over the
    * call's batch-sized checkpoints and those of the stage calls
    * ([[graft.Reliable.owned]]): they belong to the caller's
    * [[graft.Reliable.scoped]] block, or to the session if none is open.
    */
  def decide(s: SparkSession, cfg: Config, batch: DataFrame): DataFrame = graft.Jobs.labeled(s, "ingestion-gate: decide") {
    val b0 = graft.Reliable.owned(batch) // batch-sized; read by every check
    // optional stage 0: batch-self near-dup pass (see object doc) — the
    // SAME banded join + signature verification the index check runs,
    // pointed at the batch's own bands; each verified pair keeps its min
    // doc_id, so a self-colliding batch admits one representative
    val b = if (!cfg.selfDedup) b0 else {
      val sigs = graft.Reliable.owned(TextOps.sigsOf(b0))
      val bands = TextOps.bandsOf(sigs)
      val selfDups = DedupIndex.candidatePairs(s, bands, bands, tag = "gate-self")
        .join(sigs.as("sa"), col("batch_id") === col("sa.doc_id"))
        .join(sigs.as("sb"), col("corpus_id") === col("sb.doc_id"))
        .filter(TextOps.estJaccard >= cfg.maxJaccard &&
          col("corpus_id") < col("batch_id"))
        .select(col("batch_id").as("doc_id")).distinct()
      graft.Reliable.owned(b0.join(selfDups, Seq("doc_id"), "left_anti"))
    }
    val dups = DedupIndex.queryBatch(s, cfg.dedupDir, b)
      .filter(col("est_jaccard") >= cfg.maxJaccard)
      .select(col("batch_id").as("doc_id")).distinct()
    val novel = b.join(dups, Seq("doc_id"), "left_anti")
    // semi-join on the passing scores: a doc the LM could not score
    // (no transitions) is absent from scoreBatch's output and rejected
    val passing = LmModel.scoreBatch(s, cfg.lmDir, novel)
      .filter(col("mean_ppm") >= cfg.minMeanPpm)
      .select(col("doc_id"))
    val lmAdmitted = novel.join(passing, Seq("doc_id"), "left_semi")
    val lexAdmitted = cfg.qualityDir.fold(lmAdmitted) { qd =>
      // third stage: the persisted classifier — a joinless projection
      // of the survivors, so the extra stage costs one batch pass
      val good = QualityModel.scoreBatch(s, qd, lmAdmitted)
        .filter(col("score_ppm") >= cfg.minQualityPpm)
        .select(col("doc_id"))
      lmAdmitted.join(good, Seq("doc_id"), "left_semi")
    }
    val admitted = cfg.semanticDir.fold(lexAdmitted) { sd =>
      // fourth stage: embedding-space dedup of the lexical survivors —
      // the paraphrase/re-render class nothing above can see. Runs
      // LAST so only lexically-admitted docs pay the batch·k
      // assignment; the vector store heals replay-duplicated appends
      // on read (dropDuplicates), same as the accepted sink.
      require(batch.columns.contains("v"),
        "semanticDir is set but the batch has no `v` embedding column")
      val dominated = Dedup.semanticDedupBatch(s, s"$sd/ann",
          lexAdmitted.select(col("doc_id").as("vec_id"), col("v")),
          MetaScalar.open(s, s"$sd/vecs").dropDuplicates("vec_id"),
          cfg.semanticTau)
        .select(col("vec_id").as("doc_id"))
      val corpusClean = lexAdmitted.join(dominated, Seq("doc_id"), "left_anti")
      if (!cfg.selfDedup) corpusClean else {
        // selfDedup extends to the SEMANTIC stage too: stage 0 catches
        // lexical self-collisions, but two paraphrases arriving in the
        // SAME batch are each novel against the index at decision time
        // and would both be admitted — the cross-batch guarantee's one
        // intra-batch hole, now closed the same way: the batch's own
        // vectors assigned with the index's FROZEN centroids, swept
        // against THEMSELVES through the capped cluster-confined
        // kernel (min doc_id survives — [[Dedup.dominatedBy]],
        // so the cap and drop-logging apply here too). Still O(batch):
        // both join sides are the batch.
        val cents = MetaScalar.open(s, s"$sd/ann/centroids")
          .select(col("cid"), col("cv"))
        // the sweep's cap reads its input three times (pass 1 + both
        // pair sides), so checkpoint the batch-sized assignment ONCE,
        // pin the (tiny) dominated-id set eagerly, and release the
        // assignment before the call returns
        val basg = Dedup.assignCosine(
          corpusClean.select(col("doc_id").as("vec_id"), col("v")), cents)
          .localCheckpoint(true)
        val selfDom = graft.Reliable.owned(Dedup.dominatedBy(basg,
            cfg.semanticTau, tag = "gate-semself")
          .select(col("vec_id").as("doc_id")))
        graft.Reliable.release(basg)
        corpusClean.join(selfDom, Seq("doc_id"), "left_anti")
      }
    }
    admitted
  }

  /** One full gate pass: decide, land the admitted documents in the
    * accepted sink, then append them to the dedup index. Made for
    * `foreachBatch`; equally callable as the batch pipeline.
    *
    * At-least-once replay: the dedup index's `sigs` table doubles as
    * the gate's done-marker — a replayed batch's already-admitted docs
    * are anti-joined out (O(batch) semi-join, the [[DedupIndex.append]]
    * pattern), so neither sink re-lands them. The sink write goes
    * FIRST and the marker lands LAST: a crash between the two replays
    * into a duplicate sink row at worst, which [[accepted]] heals on
    * read — the same torn-write seam and heal the index family uses.
    *
    * Every checkpoint the pass and its stage calls make is released on
    * return ([[graft.Reliable.scoped]]), except the returned admitted
    * frame, which the caller owns.
    */
  def gateBatch(s: SparkSession, cfg: Config, batch: DataFrame): DataFrame = graft.Reliable.scoped {
    val decided = graft.Reliable.owned(decide(s, cfg, batch))
    // pruned to the batch ids' sig buckets, not a corpus-wide scan
    val done = DedupIndex.doneIds(s, cfg.dedupDir, decided)
    // `fresh` is the eager checkpoint handed to the caller — CALLER-
    // OWNED, outside this call's scope: a long-running intake loop that
    // drops each batch's result should Reliable.release it when done
    val fresh = decided.join(done, Seq("doc_id"), "left_anti").localCheckpoint(true)
    fresh.write.mode("append").parquet(cfg.acceptedDir)
    // semantic layout absorbs the admissions BEFORE the done-marker
    // lands (crash ⇒ replay re-runs both; AnnIndex.append skips ids it
    // holds, the vecs store dedups on read), so the NEXT batch
    // semantically dedups against this one
    cfg.semanticDir.foreach { sd =>
      val fv = graft.Reliable.owned(fresh.select(col("doc_id").as("vec_id"), col("v")))
      fv.write.mode("append").parquet(s"$sd/vecs")
      AnnIndex.append(s, s"$sd/ann", fv)
    }
    DedupIndex.append(s, cfg.dedupDir, fresh)
    fresh
  }

  /** The accepted corpus, deduped on read by doc_id — heals the one
    * at-least-once seam (a crash between the sink write and the index
    * append replays into a duplicate sink row).
    */
  def accepted(s: SparkSession, cfg: Config): DataFrame =
    MetaScalar.open(s, cfg.acceptedDir).dropDuplicates("doc_id")

  /** ONE drift readout for an arriving batch against every frozen
    * model this gate serves with — the monitor trio ([[LmModel
    * .scoreDrift]] q207, [[QualityModel.scoreDrift]] q208,
    * [[AnnIndex.quantizationDrift]] q204) wired into the intake loop,
    * so the operator watching a 100 TB stream reads ONE stage-tagged
    * frame per batch instead of polling three monitors: (stage ∈
    * 'lm'|'quality'|'semantic', side ∈ 'baseline'|'batch', n,
    * mean_metric, tail_metric). Interpretation is per-stage (the
    * columns keep each monitor's units): lm/quality tails are p05 and
    * drift DOWN; the semantic stage is the PQ encode-error p95 and
    * drifts UP. Cost is one batch-sized pass per stage — monitoring a
    * batch costs the same order as gating it. The gate's models must
    * be BASELINED first ([[LmModel.writeScoreStats]] /
    * [[QualityModel.writeScoreStats]]; [[writeSemantic]]'s index
    * carries its quantstats from the build) — a missing baseline fails
    * loudly rather than reporting a one-sided frame. Each constituent
    * kernel is oracle-gated on its own; IngestionGateSpec pins the
    * composed readout's zero point (an undrifted batch matches every
    * baseline bit-for-bit) and that each stage's alarm moves under its
    * own drift.
    */
  def monitor(s: SparkSession, cfg: Config, batch: DataFrame): DataFrame = graft.Reliable.scoped {
    val b = graft.Reliable.owned(batch) // batch-sized; read once per stage
    def shape(df: DataFrame, stage: String, n: String, m: String,
        t: String): DataFrame =
      df.select(lit(stage).as("stage"), col("side"), col(n).as("n"),
        col(m).as("mean_metric"), col(t).as("tail_metric"))
    val lm = shape(LmModel.scoreDrift(s, cfg.lmDir, b), "lm",
      "n_docs", "mean_doc_ppm", "p05_doc_ppm")
    val qm = cfg.qualityDir.map(qd =>
      shape(QualityModel.scoreDrift(s, qd, b), "quality",
        "n_docs", "mean_score_ppm", "p05_score_ppm"))
    val sem = cfg.semanticDir.map { sd =>
      require(b.columns.contains("v"),
        "semanticDir is set but the batch has no `v` embedding column")
      shape(AnnIndex.quantizationDrift(s, s"$sd/ann",
          b.select(col("doc_id").as("vec_id"), col("v"))), "semantic",
        "n_vecs", "mean_err_micro", "p95_err_micro")
    }
    (Seq(lm) ++ qm ++ sem).reduce(_.unionByName(_))
      .orderBy(col("stage"), col("side"))
  }

  /** Per-stage retrain thresholds for [[maintain]] — the monitors'
    * floor-division ppm ratios ([[RetrainFlow]]). The classifier's sits
    * tighter than the LM's because its hard-sigmoid clamps the low
    * tail (RetrainFlowSpec measures the compression); the ANN knobs
    * mirror [[RetrainFlow.annCycle]] with exactness-oriented defaults
    * (frac 1.0 — the gate-time probe set is serve-contract bounded, so
    * exact search on it is noise next to the rebuild it guards).
    *
    * ANN gate mode (round 16 — the exact gate's per-swap-attempt
    * O(corpus) cost is now an explicit operator choice, not an
    * implicit one): the defaults keep the EXACT gate — a
    * corpus-covering per-probe shortlist derived from the union size
    * and the serving index's actual list count, demanding identical
    * top-k. `annGateShortlist = Some(b)` bounds the shortlist at `b`
    * per probed list (the gate stops scaling with the corpus) and
    * should be paired with `annGateRecallPpm < 1_000_000` — under a
    * bounded shortlist two honestly-retrained codebooks legitimately
    * cut different shortlist survivors, so the gate becomes "staged
    * retains ≥ recallPpm/1e6 of the serving answers" instead of exact
    * equality ([[RetrainFlow.annGate]]'s sampled-probe mode).
    */
  final case class MaintainPolicy(lmRatioPpm: Long = 1500000L,
      qualityRatioPpm: Long = 1100000L, semanticRatioPpm: Long = 1500000L,
      annK: Int = 10, annFrac: Double = 1.0,
      annGateShortlist: Option[Int] = None,
      annGateRecallPpm: Long = 1000000L)

  /** Exact-gate shortlist per list for [[maintain]]'s ANN cycle: cover
    * the UNION corpus (`store` plus the batch's vectors `bv`) across the
    * serving index's ACTUAL list count (round-16 advice — the old 2n/16
    * hardcoded writeVectors' fixed-16 layout and overflowed Int at
    * multi-billion n; Long until the final clamp). The list and store
    * counts are footer row counts ([[MetaScalar.rows]]); only a
    * store that is more than a bare scan, and the batch, are counted by
    * Spark.
    */
  private[graft] def exactShortlist(s: SparkSession, sd: String, store: DataFrame,
      bv: DataFrame): Int = {
    val nLists = math.max(1L, MetaScalar.rows(MetaScalar.open(s, s"$sd/ann/centroids")))
    AnnIndex.perListCover(MetaScalar.rows(store) + bv.count(), nLists)
  }

  /** Close the loop [[monitor]] → [[RetrainFlow]]: read each configured
    * stage's drift against its persisted baseline and, past that
    * stage's threshold, run ITS retrain cycle against the gate's own
    * layouts — the monitor said WHEN, the cycles say HOW, this says
    * WHICH, in one call an intake loop schedules after its batches.
    * One row per configured stage:
    * (stage, alarm_ppm, alarmed, rebuilt, recovered, swapped).
    *
    * `corpusDocs(doc_id, text)` is the serving text corpus (the text
    * models retrain on corpus ∪ batch); the semantic stage rolls BOTH
    * halves of its layout on a swap — the raw vector store FIRST
    * (written and swapped inside [[RetrainFlow.annCycle]]'s
    * `beforeSwap` seam, after the gates pass), then the index. Store-
    * first means the serving index NEVER references vec_ids absent
    * from vecs/ — not during the corpus-sized staging write, and not
    * permanently if the process dies between the two swaps (extra
    * store rows unreferenced by the old index are inert; a crash
    * replay re-alarms and completes the index swap). `annProbes`
    * defaults to the 16 lowest-id store vectors; the gate-time
    * shortlist is sized by [[MaintainPolicy]] — exact corpus-covering
    * by default, bounded sampled-probe by choice.
    *
    * 100 TB shape: each no-op stage costs one monitor read (O(batch) +
    * a 1-row baseline); an alarmed stage pays its rebuild — the cost
    * this flow exists to schedule exactly when measured drift demands.
    */
  def maintain(s: SparkSession, cfg: Config, batch: DataFrame,
      corpusDocs: DataFrame, policy: MaintainPolicy = MaintainPolicy(),
      annProbes: Option[DataFrame] = None): DataFrame = graft.Reliable.scoped {
    import s.implicits._
    val b = graft.Reliable.owned(batch)
    val docsB = b.select(col("doc_id"), col("text"))
    // ms_rebuild/ms_gate carry the exact-vs-sampled gate-mode cost
    // split; only the ANN cycle fills them. Consumers read this frame
    // BY NAME (round 18 — the r17 verdict's item 4 retired the
    // positional-reader append-only-columns convention), so column
    // order is not part of the contract.
    def row(stage: String, r: RetrainFlow.Result) =
      (stage, r.alarmPpm, r.alarmed, r.rebuilt, r.recovered, r.swapped,
        r.msRebuild, r.msGate)
    val lm = row("lm",
      RetrainFlow.lmCycle(s, cfg.lmDir, corpusDocs, docsB, policy.lmRatioPpm))
    val qm = cfg.qualityDir.map(qd => row("quality",
      RetrainFlow.qmCycle(s, qd, corpusDocs, docsB, policy.qualityRatioPpm)))
    val sem = cfg.semanticDir.map { sd =>
      require(b.columns.contains("v"),
        "semanticDir is set but the batch has no `v` embedding column")
      val store = MetaScalar.open(s, s"$sd/vecs")
      val bv = b.select(col("doc_id").as("vec_id"), col("v"))
      val probes = graft.Reliable.owned(annProbes.getOrElse(store.orderBy(col("vec_id"))
        .limit(16).select(col("vec_id").as("qid"), col("v"))))
      // BY-NAME into annCycle, so a healthy batch never pays the sizing.
      // A policy-bounded shortlist switches to the sampled-probe gate.
      val r = RetrainFlow.annCycle(s, s"$sd/ann", store, bv, probes,
        policy.annK, policy.annFrac, policy.semanticRatioPpm,
        policy.annGateShortlist.getOrElse(exactShortlist(s, sd, store, bv)),
        recallPpm = policy.annGateRecallPpm,
        beforeSwap = newVecs => {
          // STORE-FIRST swap ordering (round-16 advice): the union store
          // is written and swapped BEFORE the index swap, so at no
          // instant — including this corpus-sized staging write, and
          // permanently if the process dies between the two swaps — does
          // the serving index reference vec_ids absent from vecs/ (which
          // searchRerank's store join would silently drop, shrinking
          // top-k). Extra store rows unreferenced by the old index are
          // inert; a crash replay re-alarms and completes the index swap
          // (the gate's allow-list is the OLD INDEX's membership, so the
          // already-swapped store cannot flunk it — round-17 advice).
          // `newVecs` IS annCycle's deterministic deduplicated union —
          // the frame the staged index encoded — so the store the exact
          // rerank reads can never disagree with a staged code row.
          newVecs.write.mode("overwrite").parquet(s"$sd/vecs-staging")
          RetrainFlow.swapDirs(s, s"$sd/vecs", s"$sd/vecs-staging")
        })
      row("semantic", r)
    }
    (Seq(lm) ++ qm ++ sem)
      .toDF("stage", "alarm_ppm", "alarmed", "rebuilt", "recovered",
        "swapped", "ms_rebuild", "ms_gate")
      .orderBy(col("stage"))
  }

  /** The COMPOSED admission decision under the hard gate — q153 (dedup
    * serve join) and q159 (LM serve join) gate the stages separately;
    * this gates their composition: the arriving delta (doc_id ≥ 400)
    * against the existing corpus (doc_id < 400), admitted iff no
    * corpus near-dup at est_jaccard ≥ 0.5 AND LM mean ≥ 32000 ppm (a
    * threshold chosen to actually split sf0.01's delta — 9 docs fail
    * the dup check and the sub-median half fails the score check, so
    * BOTH rejection branches carry oracle coverage;
    * IngestionGateSpec pins the persisted [[decide]] bit-identical to
    * this live form on the same split). The oracle replays the full
    * composition: MinHash/LSH banding + hot-bucket cap + candidate
    * verification on one side, LM training + interpolated scoring with
    * unigram backoff on the other, then the admit filter.
    */
  /** The shared stage-1+2 oracle chain (LSH dup check + LM score),
    * ending in `lmadm(doc_id, mean_ppm)` — the LM-admitted delta. ONE
    * definition consumed by q161 (its whole result) and q167 (which
    * appends the classifier stage), so the two gates' first stages
    * cannot drift.
    */
  private def gate12CteSql: String =
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
      |    ON q.b = c.b AND q.s1 = c.s1 AND q.s2 = c.s2),
      |dup AS (
      |  SELECT DISTINCT batch_id AS doc_id FROM cand
      |  JOIN sigs sa ON sa.doc_id = batch_id
      |  JOIN sigs sb ON sb.doc_id = corpus_id
      |  WHERE ROUND(list_sum(list_transform(range(1, 17),
      |    i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END)) / 16.0, 6) >= 0.5),
      |""" + Tokenization.lmOracleCore(
        "(SELECT doc_id, text FROM documents WHERE doc_id < 400)") +
      s""",
      |bx AS (SELECT doc_id, unnest(string_split(text,' ')) AS tok,
      |         generate_subscripts(string_split(text,' '), 1) AS pos
      |       FROM documents WHERE doc_id >= 400),
      |bbg AS (SELECT doc_id, tok AS w1,
      |          lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS w2 FROM bx),
      |sc AS (SELECT g.doc_id,
      |         CASE WHEN e.p_cond IS NOT NULL
      |              THEN ${Tokenization.hudSql("9 * e.p_cond + e.p_uni", "10")}
      |              ELSE ${Tokenization.hudSql(
                       s"COALESCE(${Tokenization.hudSql("u2b.c * 1000000", "t0.n")}, 0)", "10")}
      |         END AS s
      |       FROM bbg g
      |       LEFT JOIN bie e ON e.w1 = g.w1 AND e.w2 = g.w2
      |       LEFT JOIN uni u2b ON u2b.w = g.w2
      |       CROSS JOIN tot t0
      |       WHERE g.w2 IS NOT NULL),
      |scored AS (
      |  SELECT doc_id, CAST((2 * SUM(s) + COUNT(*)) // (2 * COUNT(*)) AS BIGINT) AS mean_ppm
      |  FROM sc GROUP BY doc_id),
      |lmadm AS (
      |  SELECT doc_id, mean_ppm FROM scored
      |  WHERE mean_ppm >= 32000 AND doc_id NOT IN (SELECT doc_id FROM dup))""").stripMargin

  /** The shared live stage-1+2 dataflow: the LM-admitted delta
    * (doc_id, mean_ppm), un-ordered — q161 orders it directly, q167
    * joins the classifier stage onto it.
    */
  private def liveDecide12(s: SparkSession, d: String): DataFrame = {
    val sigs = TextOps.minhashSigs(s, d)
    val corpusSigs = sigs.filter(col("doc_id") < 400)
    val batchSigs = sigs.filter(col("doc_id") >= 400)
    val pairs = DedupIndex.candidatePairs(s,
      TextOps.bandsOf(corpusSigs), TextOps.bandsOf(batchSigs))
    val dup = pairs
      .join(sigs.as("sa"), col("batch_id") === col("sa.doc_id"))
      .join(sigs.as("sb"), col("corpus_id") === col("sb.doc_id"))
      .select(col("batch_id").as("doc_id"), TextOps.estJaccard.as("est"))
      .filter(col("est") >= 0.5)
      .select(col("doc_id")).distinct()
    val docs = Tables.documents(s, d)
    // The stage-2 MODEL is frozen per corpus (the LmModel contract: a
    // probability model is versioned per release, not rebuilt per
    // query), so its baked tables are session-shared — the same
    // common-subexpression seam this query already rides for
    // minhashSigs. Scoring the batch and the dedup anti-join stay live
    // per call; only the 400-doc bigram train amortizes.
    val bie = graft.Shared.materialized(s, s"gate12-bie@$d") {
      LmModel.modelTables(docs.filter(col("doc_id") < 400))._1
    }
    val uniP = graft.Shared.materialized(s, s"gate12-unip@$d") {
      val (_, uni, tot) = LmModel.modelTables(docs.filter(col("doc_id") < 400))
      LmModel.unigramP(uni, tot)
    }
    LmModel.scoreAgainst(bie, uniP, docs.filter(col("doc_id") >= 400))
      .filter(col("mean_ppm") >= 32000L)
      .join(dup, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("mean_ppm"))
  }

  val composedDecide = Q(
    "q161_ingestion_gate_decide",
    gate12CteSql + "\nSELECT doc_id, mean_ppm FROM lmadm ORDER BY doc_id") { (s, d) =>
    liveDecide12(s, d).orderBy(col("doc_id"))
  }

  /** The FULL three-stage admission decision under the hard gate — q167
    * glues q162's classifier stage onto q161's dedup + LM chain: the
    * delta survivors of both first stages are scored by the linear
    * quality classifier TRAINED ON THE CORPUS (doc_id < 400, q157's
    * exact integer GD recipe with training-mean centering) and admitted
    * at score_ppm ≥ 500000 — a threshold that splits the LM-admitted
    * set at sf0.01 (46 pass / 30 fail), so the third rejection branch
    * carries real oracle coverage. The oracle replays the ENTIRE
    * composition in one DuckDB chain: MinHash/LSH banding + cap + LM
    * backoff + integer gradient descent + hard-sigmoid scoring + all
    * three admit filters. IngestionGateSpec pins the persisted
    * three-stage [[decide]] id-identical to this live form.
    */
  /** The classifier-stage oracle CTEs (corpus-trained integer GD +
    * hard-sigmoid scoring of the delta), ending in `qs(doc_id,
    * score_ppm)` — ONE definition consumed by q167 and q206 so the two
    * gates' third stages cannot drift.
    */
  private def lqcStageCteSql: String =
    Curation.lqcOraclePrefix(
      "(SELECT * FROM documents WHERE doc_id < 400)").stripPrefix("WITH ") + {
      val (r1s, r2s, r3s) = Curation.lqcRawSql
      s""",
      |qraw AS (
      |  SELECT doc_id,
      |    $r1s AS r1,
      |    $r2s AS r2,
      |    $r3s AS r3
      |  FROM documents WHERE doc_id >= 400),
      |qx AS (SELECT doc_id, r1 - m1 AS f1, r2 - m2 AS f2, r3 - m3 AS f3
      |       FROM qraw CROSS JOIN mu),
      |qs AS (SELECT doc_id, (${Curation.SigSql}) AS score_ppm
      |       FROM qx CROSS JOIN w3t)""".stripMargin
    }

  val composedDecide3 = Q(
    "q167_ingestion_gate_decide3",
    (gate12CteSql + "," + "\n" + lqcStageCteSql +
      s"""
      |SELECT a.doc_id, a.mean_ppm, CAST(q.score_ppm AS BIGINT) AS score_ppm
      |FROM lmadm a JOIN qs q USING (doc_id)
      |WHERE q.score_ppm >= 500000
      |ORDER BY doc_id""".stripMargin)) { (s, d) =>
    val docs = Tables.documents(s, d)
    val raw = Curation.lqcRawFeatures(docs.filter(col("doc_id") < 400))
      .localCheckpoint()
    val (nL, mus) = Curation.lqcMeans(raw)
    val x = raw.select(col("y"),
      (col("r1") - mus(0)).as("f1"), (col("r2") - mus(1)).as("f2"),
      (col("r3") - mus(2)).as("f3"))
    val w = Curation.lqcTrain(x, nL)
    val qs = Curation.lqcRawFeatures(docs.filter(col("doc_id") >= 400))
      .select(col("doc_id"),
        (col("r1") - mus(0)).as("f1"), (col("r2") - mus(1)).as("f2"),
        (col("r3") - mus(2)).as("f3"))
      .select(col("doc_id"), Curation.lqcSig(w).as("score_ppm"))
      .filter(col("score_ppm") >= 500000L)
    liveDecide12(s, d)
      .join(qs, Seq("doc_id"))
      .select(col("doc_id"), col("mean_ppm"), col("score_ppm"))
      .orderBy(col("doc_id"))
  }

  /** Stage-4 oracle CTEs: corpus-only Lloyd over the corpus embeddings
    * (vec_id < 400 — the same vectors [[writeSemantic]] trained on),
    * shared-rank cosine assignment of BOTH sides, the
    * [[LshGuard.capCteSql]] member cap, and the batch×members
    * cluster-confined sweep — ending in `semdom(doc_id)`, the
    * semantically-dominated batch ids. Generated from the same helpers
    * as q203's oracle so the composed gate cannot drift from the
    * standalone intake gate.
    */
  private def semStageCteSql(tau: Double): String =
    s"""ce AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |      WHERE vec_id < 400),
       |be AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |      WHERE vec_id >= 400 AND vec_id < 500),
       |${Quantizer.centroidTrainCtes(16, "ce")},
       |cent AS (SELECT cid AS c_id, cv AS centv FROM ${Quantizer.centFinal}),
       |${Dedup.assignCteSql("casg", "ce")},
       |${LshGuard.capCteSql("mcap", "casg", Seq("vec_id", "c_id"), Seq("c_id"), "vec_id")},
       |${Dedup.assignCteSql("basg", "be")},
       |semdom AS (
       |  SELECT DISTINCT b.vec_id AS doc_id
       |  FROM basg b
       |  JOIN mcap m ON b.c_id = m.c_id
       |  JOIN be x ON x.vec_id = b.vec_id
       |  JOIN ce y ON y.vec_id = m.vec_id
       |  WHERE list_dot_product(x.v, y.v)
       |      / (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))) >= $tau)""".stripMargin

  /** One persisted 4-layout gate base per (session, corpus) — dedup
    * index, LM, classifier (all trained on docs < 400) and the
    * [[writeSemantic]] layout (corpus embeddings < 400) — shared so
    * q206's steady reps measure the composed DECISION, not rebuilds.
    */
  private def sharedGate4Base(s: SparkSession, d: String): String = {
    import s.implicits._
    graft.Shared.materialized(s, s"gate4-$d") {
      val tmp = graft.TempDirs.create("graft-gate4")
      // The four layouts are INDEPENDENT builds over a 400-doc corpus —
      // each is a short chain of small jobs that underfills local[32]
      // on its own, so they build CONCURRENTLY (round 17, the q206
      // one-shot item): Spark's scheduler interleaves jobs submitted
      // from separate threads, and the builds write to distinct output
      // dirs. The serving artifact is identical to the sequential build —
      // only wall-clock changes.
      def corpus = Tables.documents(s, d).filter(col("doc_id") < 400)
      graft.Jobs.concurrently(s)(
        () => DedupIndex.write(s, corpus, s"$tmp/dix"),
        () => LmModel.write(s, corpus, s"$tmp/lm"),
        () => QualityModel.write(s, corpus, s"$tmp/qm"),
        () => writeSemantic(s,
          Tables.embeddings(s, d).filter(col("vec_id") < 400)
            .select(col("vec_id"),
              graft.functions.VectorFunctions.asDouble(col("embedding")).as("v")),
          s"$tmp/sem"))
      Seq(tmp).toDF("dir")
    }.collect()(0).getString(0)
  }

  /** q206: the FULL FOUR-STAGE admission decision under the hard gate,
    * through the REAL persisted lifecycle — [[decide]] with every
    * optional stage on, against layouts built by the production write
    * paths on temp dirs: near-dup (persisted [[DedupIndex]]) → LM
    * (persisted [[LmModel]], ≥ 32000 ppm) → classifier (persisted
    * [[QualityModel]], ≥ 500000 ppm) → semantic ([[writeSemantic]]'s
    * frozen-quantizer AnnIndex, τ = 0.4). The batch is docs 400–499
    * carrying their embeddings (the id range whose vectors exist at
    * every SF). The oracle replays the ENTIRE composition from raw
    * tables — LSH banding + cap, LM backoff, integer GD + hard
    * sigmoid, corpus-only Lloyd + shared-rank assignment + capped
    * confined sweep — and never sees any of the four layouts, so a
    * drift in ANY stage's persisted serve path surfaces as a set
    * mismatch. IngestionGateSpec pins all four rejection branches
    * non-empty on this fixture.
    */
  val composedDecide4 = Q(
    "q206_ingestion_gate_decide4",
    (gate12CteSql + "," + "\n" + lqcStageCteSql + ",\n" + semStageCteSql(0.3) +
      s"""
      |SELECT a.doc_id
      |FROM lmadm a JOIN qs q USING (doc_id)
      |WHERE q.score_ppm >= 500000 AND a.doc_id < 500
      |  AND a.doc_id NOT IN (SELECT doc_id FROM semdom)
      |ORDER BY doc_id""".stripMargin)) { (s, d) =>
    val base = sharedGate4Base(s, d)
    val cfg = Config(s"$base/dix", s"$base/lm", s"$base/acc",
      minMeanPpm = 32000L, qualityDir = Some(s"$base/qm"),
      semanticDir = Some(s"$base/sem"), semanticTau = 0.3)
    val ev = Tables.embeddings(s, d)
      .select(col("vec_id").as("doc_id"),
        graft.functions.VectorFunctions.asDouble(col("embedding")).as("v"))
    val batch = Tables.documents(s, d)
      .filter(col("doc_id") >= 400 && col("doc_id") < 500)
      .join(ev, Seq("doc_id"))
    decide(s, cfg, batch).select(col("doc_id")).orderBy(col("doc_id"))
  }

  def specs: Seq[Q] = Seq(composedDecide, composedDecide3, composedDecide4)
}
