package graft

import graft.functions.CosineSim
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** End-to-end training-corpus build — the LLM-data analog of
  * `InsurancePipeline`: chains the registered operators' logic into the
  * pipeline a real corpus team runs, from raw documents to training
  * shards on disk.
  *
  *   raw → quality gate (q78's repetition metrics) → exact dedup (q30)
  *       → near-dup keep-best purge via shared MinHash/LSH cluster
  *         labels (q32/q57) and q132's longest-member election
  *       → semantic dedup (q133's cluster-confined SemDeDup; skipped
  *         with a log line when the corpus ships no embeddings table)
  *       → weighted source mixture (q91) → train/val/test split (q87)
  *       → benchmark decontamination (q97: train docs sharing any
  *         5-token window with the held-out val/test docs are dropped)
  *       → sequence packing (q68) → deterministic hashed shards
  *         (`ShardWriter`, membership stable across reruns)
  *
  * Every stage is a narrow projection, hash aggregate, or broadcast-able
  * join; the only iterative piece is the shared connected-components
  * labeling, which is reused from the session cache if q32/q57 already
  * ran. Stage row counts print as `[corpus]` lines; the spec asserts
  * monotone shrinkage and split/mixture determinism.
  */
object CorpusPipeline {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outDir = args.lift(1).getOrElse("/tmp/graft_corpus")
    val cpus = Tune.Cpus
    // Concurrency derived from heap-per-core (round 17): the derived
    // reducer count below clears the REDUCE-side working-set cliff, but
    // the labels build's MAP-side partial hash aggregates are a separate
    // term — 32 concurrent tasks sharing an 8g pool is ~144 MB/task and
    // measured FLAKY (one 400-reducer 100× run completed, the next died
    // in AGGREGATE_OUT_OF_MEMORY at the same stage). Below ~0.5 GB/core
    // each task reserves proportionally more cores, trading concurrency
    // for per-task headroom: 8g/32c runs 16 × 0.5 GB tasks — the config
    // measured reliably green at near-equal wall (BENCH.md r16: 449 s at
    // 16c vs 480 s at 32c/256r). On a cluster the knob is executor
    // sizing; here it is derived so the default JVM never sits on the
    // edge. Env-independent: derived from -Xmx and the core count.
    val taskCpus = deriveTaskCpus(Runtime.getRuntime.maxMemory, cpus)
    val spark = Tune.session("spark.task.cpus" -> taskCpus.toString)
    // Reducer count DERIVED from corpus size, decoupled from cores
    // (round 17 — the r16 fix landed env-only): the 8g/32-core labels
    // build OOMs at reducers=cores because the knee is per-TASK
    // execution memory (32 concurrent join/aggregate tasks × corpus-
    // sized shuffle partitions); more reducers shrink each task's hash
    // state, and AQE coalesces the extra partitions away when the data
    // is small (the 1× funnel is bit-identical under any count).
    // Calibration: 500k docs / 256 reducers completed at 0.25 GB/core
    // where reducers=32 OOM'd (BENCH.md round 16) — but 250 then OOM'd
    // on a DIFFERENT cliff of the same regime (storage re-inflation of
    // a disk-spilled checkpoint block, round 17), so 2000 docs/reducer
    // was the EDGE, not a safe point. Sized at ~1250 docs/reducer
    // (500k → 400) for margin on both cliffs, clamped to [cores, 4096];
    // extra partitions are near-free (AQE coalesces them when small).
    // Row count is a parquet-footer read, not a scan.
    // SPARK_GRAFT_SHUFFLE overrides (the cluster-side knob is
    // spark.sql.shuffle.partitions itself).
    val reducers = sys.env.get("SPARK_GRAFT_SHUFFLE").map(_.toInt).getOrElse {
      val nDocs = spark.read.parquet(s"$sfDir/documents.parquet").count()
      deriveReducers(nDocs, cpus)
    }
    spark.conf.set("spark.sql.shuffle.partitions", reducers)
    println(s"[corpus] shuffle_partitions=$reducers (cores=$cpus, task_cpus=$taskCpus)")
    plans.TopKRewriteInstall.ensureInstalled(spark) // exact-dedup keep-first -> heap
    try run(spark, sfDir, outDir)
    finally spark.stop()
  }

  /** The main()'s derivation, pure so the clamps are spec-pinned:
    * ~1250 docs/reducer, never below the core count (a small corpus
    * keeps reducers=cores, the pre-round-17 behavior), capped at 4096
    * (past it tiny-task scheduling overhead dominates any working-set
    * relief). See main()'s calibration note for the measured points.
    */
  private[graft] def deriveReducers(nDocs: Long, cpus: Int): Int =
    math.max(cpus.toLong, math.min(4096L, nDocs / 1250L)).toInt

  /** Cores reserved per task so each concurrent task sees ≥ ~0.75 GB of
    * heap (the labels build's measured floor at the duplicate-heavy
    * 100× fixture; see main()'s note — 0.25 GB/task dies reproducibly,
    * 0.5 GB/task still died one run in three in execution-alloc bursts):
    * ceil(768 MB / heap-per-core), at least 1, at most the core count.
    * 8g/32c → 3 (10 concurrent tasks); ≥0.75 GB/core → 1 (behavior
    * unchanged on healthy configs).
    */
  private[graft] def deriveTaskCpus(maxHeapBytes: Long, cpus: Int): Int = {
    val minPerTask = 768L * 1024 * 1024
    val perCore = math.max(1L, maxHeapBytes / math.max(cpus, 1))
    math.min(cpus.toLong, math.max(1L, (minPerTask + perCore - 1) / perCore)).toInt
  }

  def run(spark: SparkSession, sfDir: String, outDir: String): DataFrame = {
    // per-stage wall: the count action is each stage's materialization
    // point, so timing it IS the stage's (cumulative-lineage) cost — the
    // 100x rehearsal table in BENCH.md reads these lines
    def log(stage: String, n: => Long): Unit = {
      val t0 = System.nanoTime()
      val c = n
      println(f"[corpus] $stage%-22s rows=$c%-9d ${(System.nanoTime() - t0) / 1e9}%7.2f s")
    }

    val raw = Tables.documents(spark, sfDir)
    log("raw", raw.count())

    // 0. PII gate + scrub (ops.Redact): docs above the PII budget drop,
    // survivors ship the scrubbed text. One codegen'd projection; on the
    // synthetic corpus (digit-free text) this is a proven no-op
    // (RedactSpec) — the stage is here because the SHAPE is what a real
    // corpus run needs, same as the multimodal stub plumbing.
    val scrubbed = ops.Redact.stage(raw, "text")
      .filter(col("n_emails") + col("n_ips") + col("n_phones") <= 2)
      .withColumn("text", col("text_scrubbed"))
      .drop("text_scrubbed", "n_emails", "n_ips", "n_phones")
    log("pii_scrub", scrubbed.count())

    // 1. Quality gate — q78's Gopher-style repetition signals, computed
    // in one two-level partial aggregate, joined back semi-style.
    val toks = scrubbed.select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
    val perTok = toks.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("cnt"))
    val metrics = perTok.groupBy(col("doc_id")).agg(
      sum(col("cnt")).as("n_tokens"),
      count(lit(1)).as("n_distinct"),
      max(col("cnt")).as("top_cnt"))
    val passing = metrics.filter(
      col("n_tokens") >= 8 &&
      col("n_distinct") * 1.0 / col("n_tokens") >= 0.25 &&
      col("top_cnt") * 1.0 / col("n_tokens") <= 0.5)
      .select(col("doc_id"))
    val quality = scrubbed.join(passing, Seq("doc_id"), "left_semi")
    log("quality_gate", quality.count())

    // 2. Exact dedup — keep the smallest doc_id per content hash.
    // localCheckpoint: feeds the keeper election AND the purge below.
    val wDup = Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))
    val tE = System.nanoTime() // the EAGER checkpoint is this stage's cost
    val exact = quality.withColumn("__rn", row_number().over(wDup))
      .filter(col("__rn") === 1).drop("__rn")
      .localCheckpoint()
    println(f"[corpus] exact_dedup            rows=${exact.count()}%-9d ${(System.nanoTime() - tE) / 1e9}%7.2f s")

    // 3. Near-dup purge — shared LSH cluster labels (cached across
    // queries) resolved with q132's keep-BEST rule: among the cluster
    // members still alive after the quality/exact gates, the longest
    // document survives (doc_id breaks ties) — unlike q132's whole-
    // corpus report, the election here runs over SURVIVORS, so a
    // cluster whose best member already failed quality still keeps its
    // best remaining one. Unclustered docs pass untouched.
    // the shared label build (MinHash bands -> capped candidate join ->
    // connected components) materializes EAGERLY inside this call via
    // the session cache — time it explicitly or it hides between the
    // exact_dedup and neardup_keepbest lines (it dominates the 100x run)
    val tL = System.nanoTime()
    val labels = ops.DedupClusters.clusterLabels(spark, sfDir)
    println(f"[corpus] neardup_labels_build           ${(System.nanoTime() - tL) / 1e9}%7.2f s (shared MinHash+CC)")
    val keepers = labels
      .join(exact.select(col("doc_id").as("node"), col("n_chars")), Seq("node"))
      .groupBy(col("label"))
      .agg(max_by(col("node"), struct(col("n_chars"), -col("node"))).as("keeper"))
    val purged = exact.join(labels, exact("doc_id") === labels("node"), "left_outer")
      .join(keepers, Seq("label"), "left_outer")
      .filter(col("label").isNull || col("doc_id") === col("keeper"))
      .select(exact.columns.map(col): _*)
    log("neardup_keepbest", purged.count())

    // 3b. SEMANTIC dedup (SemDeDup, q133's cluster-confined shape):
    // among SURVIVORS sharing an embedding cluster, a doc with a
    // lower-id clustermate at cosine >= 0.35 drops — catches the
    // paraphrase/translation duplicates lexical shingles can't see.
    // Pairwise work stays inside clusters (the k-means/IVF assignment
    // at production scale); docs without an embedding row pass
    // untouched, and a corpus shipped without an embeddings table
    // skips the stage (logged) instead of failing the build.
    // Hadoop FileSystem probe, not java.io.File: the corpus dir can be
    // hdfs:// or s3a:// — a local-only check would silently skip the
    // stage on exactly the deployments that need it.
    val embPath = new org.apache.hadoop.fs.Path(s"$sfDir/embeddings.parquet")
    val embExists = embPath
      .getFileSystem(spark.sessionState.newHadoopConf()).exists(embPath)
    val semantic = if (!embExists) {
      println("[corpus] semantic_dedup        skipped (no embeddings table)")
      purged
    } else {
      val alive = purged.select(col("doc_id").as("vec_id"))
      // hot-cluster guard (same shape as the LSH band joins): one huge
      // embedding cluster would fan O(n²) cosine pairs — cap membership
      // per cluster label before the self-join; drops are observed+logged
      val e = ops.LshGuard.capBuckets(spark,
        Tables.embeddings(spark, sfDir)
          .select(col("vec_id"), col("label"),
            col("embedding").cast("array<double>").as("v"))
          .join(alive, Seq("vec_id")), // confine pairs to surviving docs
        Seq("label"), "vec_id", tag = "semdedup")
      val drops = e.select(col("label").as("la"), col("vec_id").as("ida"), col("v").as("va"))
        .join(e.select(col("label").as("lb"), col("vec_id").as("idb"), col("v").as("vb")),
          col("la") === col("lb") && col("ida") < col("idb"))
        .filter(CosineSim.cosine(col("va"), col("vb")) >= 0.35)
        .select(col("idb").as("doc_id"))
        .distinct()
      purged.join(drops, Seq("doc_id"), "left_anti")
    }
    log("semantic_dedup", semantic.count())

    // 4. Weighted source mixture (md5 chars 9-15, independent of the
    // split bucket below).
    val mixRate = when(col("source").isin("src0", "src1", "src2", "src3", "src4"), 1.0)
      .when(col("source").isin("src5", "src6", "src7", "src8", "src9"), 0.5)
      .otherwise(0.25)
    val mixBucket =
      expr("CAST(conv(substr(md5(CAST(doc_id AS STRING)), 9, 7), 16, 10) AS BIGINT) % 1000")
    val mixed = semantic.filter(mixBucket < mixRate * 1000)
    log("source_mixture", mixed.count())

    // 5. Train/val/test split — the shared q87 assignment (one
    // definition, so the pipeline and the reporting query can't drift).
    // localCheckpoint: `assigned` feeds THREE consumers below (bench grams,
    // train grams, the anti-join's left side) — without materialization the
    // whole quality→dedup→purge→mixture chain would replan and re-execute
    // per consumer (the q77/q103 multiple-subtree lesson).
    val assigned = mixed.withColumn("split", ops.Curation.splitLabel)
      .localCheckpoint()
    // Staging relief (round 16 — the 100× 8g memory knee): once
    // `assigned` is materialized, every later stage reads it (or the
    // written shards), so the dedup bases are dead weight — release the
    // session-shared label artifacts and the exact-dedup checkpoint. At
    // 100× the candidate-pair set alone is ~25M rows; holding it (plus
    // sigs, labels and `exact`) through packing was most of the
    // resident-set floor. A later query wanting a released shared base
    // just rebuilds it.
    Seq(s"cc-labels@$sfDir", s"minhash-cand@$sfDir", s"minhash-sigs@$sfDir")
      .foreach(Shared.releaseEntry(spark, _))
    Reliable.release(exact)

    // 5b. Benchmark decontamination — q97's gram-hash overlap, applied
    // where it actually bites: a TRAIN doc sharing any 5-token window
    // with a held-out val/test doc leaks eval content into training, so
    // it is dropped. Grams build in the native `graft_ngrams` projection
    // and travel as xxhash64 longs; the held-out side is split-sized
    // (5-10% of the corpus) and broadcasts.
    def grams(df: DataFrame): DataFrame = df
      .select(col("doc_id"),
        explode(array_distinct(functions.NGrams.ngrams(split(col("text"), " "), 5))).as("g"))
      .select(col("doc_id"), xxhash64(col("g")).as("gh"))
    val bench = grams(assigned.filter(col("split") =!= "train"))
      .select(col("gh")).distinct()
    val contaminated = grams(assigned.filter(col("split") === "train"))
      .join(bench, Seq("gh"))
      .select(col("doc_id")).distinct()
    val decontaminated = assigned.join(contaminated, Seq("doc_id"), "left_anti")
    log("decontaminated", decontaminated.count())

    // 6. Sequence packing — q68's greedy cumsum binning per (split, lang).
    val budget = 512L
    val wPack = Window.partitionBy(col("split"), col("lang")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val packed = decontaminated
      .withColumn("n_toks", size(split(col("text"), " ")))
      .withColumn("pack_id",
        ((sum(col("n_toks")).over(wPack) - col("n_toks")) / budget).cast("long"))
    log("packed", packed.count())

    // 7. Deterministic hashed shards: membership is a pure function of
    // doc_id, so re-running the pipeline rebuilds identical shards.
    sources.ShardWriter.writeShardsHashed(packed, outDir, 8, col("doc_id"))
    val back = spark.read.parquet(outDir)
    log("shards_written", back.count())

    // 8. Run report — the artifacts a production curation run publishes
    // and alarms on: the per-source dataset card of what actually
    // shipped (q123's shape over the FINAL corpus) and the raw-vs-
    // shipped length-drift KS statistic (q120's exact form) that
    // catches a filter stage silently skewing the distribution.
    // Tokens shipped per source — THE number a training-data owner
    // budgets against: the shipped corpus' token stream joins the
    // broadcast vocabulary encode table (q135's trained-tokenizer
    // counts, provenance-locked to BpeTrainer).
    val shippedToks = back.select(col("source"), explode(split(col("text"), " ")).as("tok"))
    val bpeTokens = shippedToks
      .join(broadcast(ops.Tokenization.bpeVocabCounts(shippedToks)), Seq("tok"))
      .groupBy(col("source"))
      .agg(sum(col("n_bpe")).as("bpe_tokens"))
    val card = back.groupBy(col("source")).agg(
      count(lit(1)).as("n_docs"),
      countDistinct(col("lang")).as("n_langs"),
      sum(col("n_chars")).as("total_chars"),
      min(col("n_chars")).as("min_chars"),
      max(col("n_chars")).as("max_chars"))
      // left + 0-fill: a shipped source must keep its card row even if
      // its docs yield no explodable tokens (the card is an alarm
      // surface — a source silently vanishing IS the failure mode)
      .join(bpeTokens, Seq("source"), "left")
      .na.fill(0L, Seq("bpe_tokens"))
    card.coalesce(1).write.mode("overwrite").parquet(s"$outDir-report/card")
    val drift = ops.Curation.ksBetween(
      raw.select(col("n_chars")), back.select(col("n_chars")), "n_chars")
    drift.coalesce(1).write.mode("overwrite").parquet(s"$outDir-report/drift")
    val ks = spark.read.parquet(s"$outDir-report/drift")
      .collect()(0).getAs[Double]("ks_stat")
    println(f"[corpus] report_ks_drift      ks=$ks%.6f")
    back
  }
}
