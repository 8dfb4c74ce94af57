package graft

import graft.functions.CosineSim
import org.apache.spark.sql.functions._

/** Serve-path bench for the persistent indexes: build the ANN and BM25
  * indexes once over `SPARK_GRAFT_SF_DIR` (default sf0.1), then time
  * repeated searches against the LOADED tables — the latency a
  * search-job (not the build job) pays, which is what the round-8
  * partition layouts (codes by IVF list, postings by term hash) are
  * for. Prints per-op medians of 5 post-warmup runs.
  *
  * `SPARK_GRAFT_IXBENCH_SECTIONS=text,lm` limits the run to named
  * sections (ann/text/dedup/lm/quality/gate/maintainloop/release) — rehearsal dirs at the
  * 5M-doc scale make a full sweep ~25 min, and a growth-term question
  * is usually about ONE index family. `gate` composes the dedup, lm
  * AND quality layouts (+ their scorestats baselines for the monitor
  * row), so it requires all three of their sections.
  */
object IndexBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val sections = sys.env.get("SPARK_GRAFT_IXBENCH_SECTIONS")
      .map(_.split(",").map(_.trim).toSet)
    def section(name: String)(body: => Unit): Unit =
      if (sections.forall(_.contains(name))) body
    val spark = Tune.session()
    import ops.{AnnIndex, TextIndex}

    val tmp = graft.TempDirs.create("graft-ixbench")
    def timed(label: String)(body: => Long): Unit = {
      val ts = (1 to 6).map { _ =>
        val t0 = System.nanoTime()
        val n = body
        ((System.nanoTime() - t0) / 1e9, n)
      }
      val med = ts.drop(1).map(_._1).sorted.apply(2) // median of 5 post-warmup
      println(f"IXBENCH $label%-28s ${med}%.3f s (rows=${ts.head._2})")
    }

    // shared by the dedup/lm/quality/gate sections (≤100-row checkpoints)
    val docs = Tables.documents(spark, sfDir)
    val probe16 = docs.orderBy(col("doc_id")).limit(16)
      .withColumn("doc_id", col("doc_id") + 1000000L).localCheckpoint()
    val probe100 = docs.orderBy(col("doc_id")).limit(100)
      .withColumn("doc_id", col("doc_id") + 2000000L).localCheckpoint()

    section("ann") {
    var t0 = System.nanoTime()
    AnnIndex.write(spark, sfDir, s"$tmp/ann")
    println(f"IXBENCH ann_build                    ${(System.nanoTime() - t0) / 1e9}%.3f s")
    val ann = AnnIndex.load(spark, s"$tmp/ann")
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), functions.VectorFunctions.asDouble(col("embedding")).as("v"))
    val queries = e.filter(col("vec_id") < 16)
      .select(col("vec_id").as("qid"), col("v")).localCheckpoint()
    timed("ann_search_16q_nprobe2") {
      AnnIndex.search(spark, ann, queries, nprobe = 2, k = 10).count()
    }

    // quantizer-drift monitor: the 5% re-ingest slice read against the
    // build-time baseline, undrifted (ratio ~1x) and affine-drifted
    // (the retrain trigger) — serve cost is one batch encode + 1-row read
    val driftSlice = e.filter(col("vec_id") % 20 === 3).localCheckpoint()
    for ((tag, b) <- Seq(
        ("same", driftSlice),
        ("drifted", driftSlice.select(col("vec_id"),
          expr("transform(v, x -> x * 1.5d + 0.25d)").as("v"))))) {
      val t = System.nanoTime()
      val m = AnnIndex.quantizationDrift(spark, s"$tmp/ann", b).collect()
        .map(r => r.getString(0) -> r.getLong(2)).toMap
      println(f"IXBENCH ann_drift_$tag%-14s       ${(System.nanoTime() - t) / 1e9}%.3f s " +
        f"(mean base=${m("baseline")} batch=${m("batch")})")
    }

    t0 = System.nanoTime()
    AnnIndex.writeScaled(spark, sfDir, s"$tmp/annS")
    println(f"IXBENCH annS_build                   ${(System.nanoTime() - t0) / 1e9}%.3f s")
    val annS = AnnIndex.load(spark, s"$tmp/annS")
    println(s"IXBENCH annS_lists                   ${annS.centroids.count()}")
    timed("annS_search_16q_nprobe8") {
      AnnIndex.search(spark, annS, queries, nprobe = 8, k = 10).count()
    }

    // Recall at rehearsal scale: scaled-index IVF top-10 vs brute-force
    // top-10 for the 16 probe queries. Latency rows can't see build
    // quality — a degenerate quantizer (all vectors in one list) would
    // stay fast; recall is the signal that the trained lists actually
    // partition the space at this corpus.
    def bruteTop10(corpus: org.apache.spark.sql.DataFrame,
        qs: org.apache.spark.sql.DataFrame): Set[(Long, Long)] = {
      import org.apache.spark.sql.expressions.Window
      val wq = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("vec_id"))
      qs.as("q").crossJoin(corpus.as("c"))
        .filter(col("q.qid") =!= col("c.vec_id"))
        .select(col("q.qid").as("qid"), col("c.vec_id").as("vec_id"),
          CosineSim.cosine(col("q.v"), col("c.v")).as("sim"))
        .withColumn("rnk", row_number().over(wq))
        .filter(col("rnk") <= 10)
        .select(col("qid"), col("vec_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    // THREE recall surfaces, separated on purpose (confounding them is
    // how round 11's first auto-nprobe row read as a regression):
    //  - cand  = candidate COVERAGE: the fraction of true top-10 whose
    //    assigned list is probed. This is the ONLY thing nprobe
    //    controls, and the quantity auto-nprobe holds flat across
    //    writeScaled re-sizes.
    //  - adc   = raw ADC top-10: coverage AND PQ resolution at once. On
    //    isotropic data every true cosine gap is smaller than the PQ
    //    quantization error, so a LARGER candidate pool scores WORSE
    //    here (more quantized-noise winners crowd the cut) — a bigger
    //    nprobe legitimately lowers this number. Not the quality path.
    //  - rrk   = ADC shortlist + exact cosine re-rank (q143's read
    //    path): coverage-bound again, so auto-nprobe's held coverage
    //    carries through to the answer the user sees.
    val bfS = bruteTop10(e, queries)
    val bfSDf = spark.createDataFrame(bfS.toSeq).toDF("qid", "vec_id")
      .localCheckpoint()
    def candRecall(ix: AnnIndex.Index, nprobe: Int): Double = {
      import org.apache.spark.sql.expressions.Window
      val wAff = Window.partitionBy(col("qid")).orderBy(col("ca").desc, col("c_id"))
      val probes = queries.crossJoin(
          broadcast(ix.centroids.select(col("cid").as("c_id"), col("cv"))))
        .select(col("qid"), col("c_id"),
          round(CosineSim.cosine(col("v"), col("cv")), 6).as("ca"))
        .withColumn("crank", row_number().over(wAff))
        .filter(col("crank") <= nprobe)
        .select(col("qid"), col("c_id"))
      val hit = probes.join(ix.assigned, Seq("c_id"))
        .join(bfSDf, Seq("qid", "vec_id"), "left_semi").count()
      hit.toDouble / bfS.size
    }
    def adcRecall(ix: AnnIndex.Index, nprobe: Int): Double = {
      val annTop = AnnIndex.search(spark, ix, queries, nprobe, k = 10)
        .select(col("qid"), col("cand"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (annTop & bfS).size.toDouble / bfS.size
    }
    def rerankRecall(ix: AnnIndex.Index, nprobe: Int, shortlist: Int): Double = {
      import org.apache.spark.sql.expressions.Window
      val wr = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("cand"))
      val top = AnnIndex.search(spark, ix, queries, nprobe, k = shortlist)
        .select(col("qid"), col("cand"))
        .join(e.select(col("vec_id").as("qid"), col("v").as("qv")), Seq("qid"))
        .join(e.select(col("vec_id").as("cand"), col("v").as("cv")), Seq("cand"))
        .select(col("qid"), col("cand"), CosineSim.cosine(col("qv"), col("cv")).as("sim"))
        .withColumn("rnk", row_number().over(wr)).filter(col("rnk") <= 10)
        .select(col("qid"), col("cand"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (top & bfS).size.toDouble / bfS.size
    }
    val nLists = annS.centroids.count()
    val npAuto = AnnIndex.autoNprobe(annS, 0.15)
    for ((tag, np) <- Seq(("fixed8", 8), ("auto", npAuto))) {
      val lbl = if (tag == "auto") s"frac=0.15 -> nprobe=$npAuto" else s"nprobe=$np"
      println(f"IXBENCH annS_cand_recall10_$tag%-7s  ${candRecall(annS, np)}%.3f ($lbl, lists=$nLists)")
      println(f"IXBENCH annS_adc_recall10_$tag%-7s   ${adcRecall(annS, np)}%.3f ($lbl, lists=$nLists)")
      println(f"IXBENCH annS_rerank_recall10_$tag%-7s ${rerankRecall(annS, np, 400)}%.3f ($lbl, shortlist=400, lists=$nLists)")
    }
    // the searchRerank API: probe count AND shortlist both index-derived
    // (shortlist = 64/probe). The row to compare against is
    // rerank_recall10_auto — same probes, fixed-400 shortlist.
    {
      val apiTop = AnnIndex.searchRerank(spark, annS, e, queries, k = 10,
          frac = 0.15, excludeSelf = true)
        .select(col("qid"), col("cand"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      println(f"IXBENCH annS_api_rerank_recall10     ${(apiTop & bfS).size.toDouble / bfS.size}%.3f (frac=0.15 -> nprobe=$npAuto, shortlist=${math.max(10, 64 * npAuto)}, lists=$nLists)")
      timed("annS_api_rerank_16q") {
        AnnIndex.searchRerank(spark, annS, e, queries, k = 10,
          frac = 0.15, excludeSelf = true).count()
      }
    }

    // Late-interaction (q170/q178) serve paths: brute MaxSim is the
    // quality ceiling AND a corpus-sized cross scan; the indexed path
    // (q178's maxSimRerank) runs the codes-only ADC shortlist first and
    // scores the 64-sub-dot MaxSim on shortlist rows only. Agreement =
    // top-10 overlap vs the brute ranking — like adc/rrk above it is
    // coverage-bound, so auto-nprobe's held fraction carries over.
    {
      val qm = queries.select(col("qid"), col("v").as("qv"))
      timed("maxsim_brute_16q") {
        ops.Retrieval.lateInteractionTopK(e, qm, 10).count()
      }
      val bfM = ops.Retrieval.lateInteractionTopK(e, qm, 10)
        .select(col("qid"), col("cand"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      timed("maxsim_indexed_16q") {
        ops.Retrieval.maxSimRerank(spark, annS, e, queries, k = 10,
          frac = 0.15, shortlistPerProbe = 64, excludeSelf = true).count()
      }
      val ixM = ops.Retrieval.maxSimRerank(spark, annS, e, queries, k = 10,
          frac = 0.15, shortlistPerProbe = 64, excludeSelf = true)
        .select(col("qid"), col("cand"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      println(f"IXBENCH maxsim_indexed_agree10       ${(ixM & bfM).size.toDouble / bfM.size}%.3f (frac=0.15 -> nprobe=$npAuto, shortlist=${64 * npAuto}, lists=$nLists)")
    }

    // Planted-structure counterpoint: the row above measures the DATA's
    // ceiling (this testdata is uniform random unit vectors, where any
    // IVF degenerates to probed-fraction recall). Same corpus SIZE with
    // 64 planted clusters (deterministic seeds), same build path, same
    // measurement — high recall here is the quantizer's own evidence.
    {
      val nP = e.count()
      val seeded = new scala.util.Random(42)
      val cents = Array.fill(64, 64)(seeded.nextGaussian())
      // generated DISTRIBUTED (spark.range + a deterministic per-row
      // seed), never as a driver-side collection — at the 5M-doc
      // rehearsal dirs this bench targets, materializing n×64 doubles
      // on the driver is multi-GB; the per-row Random(i + 1000) keeps
      // the vectors bit-identical to the old driver-side generation
      import spark.implicits._
      spark.range(nP).map { i =>
        val c = cents((i % 64).toInt)
        val r = new scala.util.Random(i.toInt + 1000)
        val v = c.map(_ + r.nextGaussian() * 0.35)
        val nrm = math.sqrt(v.map(x => x * x).sum)
        (i, v.map(x => (x / nrm).toFloat))
      }.toDF("vec_id", "embedding")
        .write.mode("overwrite").parquet(s"$tmp/planted/embeddings.parquet")
      AnnIndex.writeScaled(spark, s"$tmp/planted", s"$tmp/annP")
      val annP = AnnIndex.load(spark, s"$tmp/annP")
      val eP = Tables.embeddings(spark, s"$tmp/planted")
        .select(col("vec_id"), functions.VectorFunctions.asDouble(col("embedding")).as("v"))
        .localCheckpoint()
      val qP = eP.filter(col("vec_id") < 16)
        .select(col("vec_id").as("qid"), col("v")).localCheckpoint()
      // (a) list quality: how much of the ADC top-10 lands in the
      // query's true cluster (vec_id ≡ qid mod 64)? This is what the
      // trained inverted lists control.
      val adcTop = AnnIndex.search(spark, annP, qP, nprobe = 8, k = 10)
        .select(col("qid"), col("cand")).collect()
      val contain = adcTop.count(r => r.getLong(1) % 64 == r.getLong(0) % 64)
        .toDouble / adcTop.length
      // (b) end-to-end quality through q143's production read path: ADC
      // shortlist, EXACT cosine re-rank, top-10 vs brute force. Within
      // a tight cluster every member is near-equidistant, so raw ADC
      // order is PQ-resolution-limited by construction — the re-rank is
      // the read path that resolves it. The shortlist scales with the
      // planted CLUSTER size (nP/64 — this fixture holds cluster count
      // fixed, so clusters grow with the corpus): a fixed 400 covers
      // 5% of a 10x cluster and the row would measure shortlist
      // truncation, not index quality.
      import org.apache.spark.sql.expressions.Window
      val slK = math.max(400L, 2L * nP / 64).toInt
      val shortlist = AnnIndex.search(spark, annP, qP, nprobe = 8, k = slK)
        .select(col("qid"), col("cand"))
      val wr = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("cand"))
      val rerTop = shortlist
        .join(eP.select(col("vec_id").as("qid"), col("v").as("qv")), Seq("qid"))
        .join(eP.select(col("vec_id").as("cand"), col("v").as("cv")), Seq("cand"))
        .select(col("qid"), col("cand"), CosineSim.cosine(col("qv"), col("cv")).as("sim"))
        .withColumn("rnk", row_number().over(wr)).filter(col("rnk") <= 10)
        .select(col("qid"), col("cand"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val bfP = bruteTop10(eP, qP)
      println(f"IXBENCH annP_planted_cluster_containment ${contain}%.3f (nprobe=8, lists=${annP.centroids.count()})")
      println(f"IXBENCH annP_planted_rerank_recall10 ${(rerTop & bfP).size.toDouble / bfP.size}%.3f (shortlist=$slK ~ 2x cluster size)")
      // MaxSim served over the same planted index — the counterpart of
      // maxsim_indexed_agree10 above: on clusterable data the cosine-
      // partitioned lists DO concentrate MaxSim winners, so the shortlist
      // path recovers the brute MaxSim ranking the isotropic row can't.
      val qmP = qP.select(col("qid"), col("v").as("qv"))
      val bfMP = ops.Retrieval.lateInteractionTopK(eP, qmP, 10)
        .select(col("qid"), col("cand"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val slPP = math.max(64, slK / math.max(1, AnnIndex.autoNprobe(annP, 0.15)))
      val ixMP = ops.Retrieval.maxSimRerank(spark, annP, eP, qP, k = 10,
          frac = 0.15, shortlistPerProbe = slPP, excludeSelf = true)
        .select(col("qid"), col("cand"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      println(f"IXBENCH annP_planted_maxsim_agree10  ${(ixMP & bfMP).size.toDouble / bfMP.size}%.3f (frac=0.15, shortlist/probe=$slPP)")
    }
    }

    section("text") {
    val t0 = System.nanoTime()
    TextIndex.write(spark, sfDir, s"$tmp/text")
    println(f"IXBENCH text_build                   ${(System.nanoTime() - t0) / 1e9}%.3f s")
    val tix = TextIndex.load(spark, s"$tmp/text")
    timed("bm25_search_3terms") {
      TextIndex.search(spark, tix, Seq("dup", "vector", "spark"), 10).count()
    }
    timed("phrase_search_2terms") {
      TextIndex.phraseSearch(spark, tix, Seq("table", "hash")).count()
    }
    }

    // Near-dup signature index: ingestion-batch dedup-check latency
    // against the persisted corpus. The contract under test is that the
    // serve cost tracks the BATCH (signature pass + pruned band-bucket
    // join), not the corpus — at 10x/100x the same probes should hold
    // roughly flat while the index build scales with n.
    section("dedup") {
    val t0 = System.nanoTime()
    ops.DedupIndex.write(spark, docs, s"$tmp/dix")
    println(f"IXBENCH dedup_build                  ${(System.nanoTime() - t0) / 1e9}%.3f s")
    timed("dedup_query_16docs") {
      ops.DedupIndex.queryBatch(spark, s"$tmp/dix", probe16).count()
    }
    timed("dedup_query_100docs") {
      ops.DedupIndex.queryBatch(spark, s"$tmp/dix", probe100).count()
    }
    }

    // Persisted bigram LM: ingestion-batch quality-score latency. The
    // contract — scoring reads a bucket-pruned slice of the
    // diversity-sized model tables (strategy AQE's), so batch cost
    // should track the batch + pruned slice while train cost scales
    // with n. Model table rows/bytes are printed because DIVERSITY (not
    // row count) is the axis they grow on — the --diversity rehearsal
    // reads these to check the "vocab-sized" claims against measured
    // sizes.
    section("lm") {
    val t0 = System.nanoTime()
    ops.LmModel.write(spark, docs, s"$tmp/lm")
    println(f"IXBENCH lm_train                     ${(System.nanoTime() - t0) / 1e9}%.3f s")
    val lmBi = spark.read.parquet(s"$tmp/lm/bigrams")
    val lmBytes = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$tmp/lm"))
      .filter(java.nio.file.Files.isRegularFile(_))
      .mapToLong(java.nio.file.Files.size(_)).sum()
    println(s"IXBENCH lm_model_size                ${lmBi.count()} bigram rows, $lmBytes bytes on disk")
    timed("lm_score_100docs") {
      ops.LmModel.scoreBatch(spark, s"$tmp/lm", probe100).count()
    }

    // corpus-drift monitor (the LM analog of ann_drift): baseline write
    // is one extra training-corpus scoring pass (opt-in, sampleable at
    // scale); each monitor read is one scoreBatch + a 1-row baseline
    // read. Undrifted (the training docs back) vs token-reversed (the
    // retrain trigger: every bigram unseen -> backoff).
    var t1 = System.nanoTime()
    ops.LmModel.writeScoreStats(spark, s"$tmp/lm", docs)
    println(f"IXBENCH lm_scorestats_write          ${(System.nanoTime() - t1) / 1e9}%.3f s")
    for ((tag, b) <- Seq(
        ("same", docs),
        ("reversed", docs.select(col("doc_id"),
          concat_ws(" ", reverse(split(col("text"), " "))).as("text"))))) {
      t1 = System.nanoTime()
      val m = ops.LmModel.scoreDrift(spark, s"$tmp/lm", b).collect()
        .map(r => r.getString(0) -> r.getLong(2)).toMap
      println(f"IXBENCH lm_drift_$tag%-15s      ${(System.nanoTime() - t1) / 1e9}%.3f s " +
        f"(mean base=${m("baseline")} batch=${m("batch")})")
    }
    }

    // Persisted quality classifier: batch scoring latency. The model is
    // one row inlined as literals, so scoring is a pure projection —
    // the floor any serve path in this family can hit.
    section("quality") {
    val t0 = System.nanoTime()
    ops.QualityModel.write(spark, docs, s"$tmp/qm")
    println(f"IXBENCH quality_train                ${(System.nanoTime() - t0) / 1e9}%.3f s")
    timed("quality_score_100docs") {
      ops.QualityModel.scoreBatch(spark, s"$tmp/qm", probe100).count()
    }

    // classifier-drift monitor (trio-completing q208 row): undrifted
    // (training docs back) vs 5-token-truncated (the degraded-crawl
    // shape) — one batch projection + a 1-row baseline read each
    var t1 = System.nanoTime()
    ops.QualityModel.writeScoreStats(spark, s"$tmp/qm", docs)
    println(f"IXBENCH quality_scorestats_write     ${(System.nanoTime() - t1) / 1e9}%.3f s")
    for ((tag, b) <- Seq(
        ("same", docs),
        ("truncated", docs.select(col("doc_id"),
          concat_ws(" ", slice(split(col("text"), " "), 1, 5)).as("text"))))) {
      t1 = System.nanoTime()
      val m = ops.QualityModel.scoreDrift(spark, s"$tmp/qm", b).collect()
        .map(r => r.getString(0) -> r.getLong(2)).toMap
      println(f"IXBENCH quality_drift_$tag%-10s      ${(System.nanoTime() - t1) / 1e9}%.3f s " +
        f"(mean base=${m("baseline")} batch=${m("batch")})")
    }
    }

    // Composed ingestion gate (dedup-check -> LM-score): the decision
    // latency an intake stream pays per micro-batch, against the
    // indexes built above. decide() is pure (no appends), so repeated
    // timing runs see identical index state. Half the probe batch is
    // exact dups (rejected by the index check), half is token-reversed
    // (novel shingles, in-vocab tokens — survives to the LM stage), so
    // BOTH stages do real work.
    section("gate") {
    // Standalone-safe (round-15): the gate composes the dedup, LM and
    // quality layouts (+ their scorestats baselines for the monitor
    // row). When SPARK_GRAFT_IXBENCH_SECTIONS skips those sections,
    // build each missing prerequisite here with its own log line —
    // previously a subset run silently broke on the absent dirs.
    def ensurePrereq(dir: String, label: String)(build: => Unit): Unit =
      if (!new java.io.File(dir).exists()) {
        val t = System.nanoTime()
        build
        println(f"IXBENCH gate_prereq_$label%-11s      ${(System.nanoTime() - t) / 1e9}%.3f s (built standalone)")
      }
    ensurePrereq(s"$tmp/dix", "dedup") { ops.DedupIndex.write(spark, docs, s"$tmp/dix") }
    ensurePrereq(s"$tmp/lm", "lm") {
      ops.LmModel.write(spark, docs, s"$tmp/lm")
      ops.LmModel.writeScoreStats(spark, s"$tmp/lm", docs)
    }
    ensurePrereq(s"$tmp/qm", "quality") {
      ops.QualityModel.write(spark, docs, s"$tmp/qm")
      ops.QualityModel.writeScoreStats(spark, s"$tmp/qm", docs)
    }
    val gateCfg = ops.IngestionGate.Config(s"$tmp/dix", s"$tmp/lm", s"$tmp/acc")
    val gateProbe = probe100.limit(50).unionAll(
      probe100.limit(50).withColumn("doc_id", col("doc_id") + 3000000L)
        .withColumn("text", concat_ws(" ", reverse(split(col("text"), " ")))))
      .localCheckpoint()
    timed("gate_decide_100docs") {
      ops.IngestionGate.decide(spark, gateCfg, gateProbe).count()
    }

    // 4-stage decide: the semantic layout is the embeddings corpus
    // (built once — the serving artifact); every probe doc carries a
    // corpus vector by id modulus, so stage 4's batch·k assignment AND
    // the cluster-confined member sweep both do real work (each probe
    // is a semantic dup of its source vector). The row's delta over
    // gate_decide_100docs is the marginal cost of the semantic stage.
    val evG = Tables.embeddings(spark, sfDir).select(col("vec_id"),
      functions.VectorFunctions.asDouble(col("embedding")).as("v"))
      .localCheckpoint()
    val nEmb = evG.count()
    ops.IngestionGate.writeSemantic(spark, evG, s"$tmp/sem")
    val gateProbeV = gateProbe
      .join(evG.withColumnRenamed("vec_id", "jk"),
        pmod(col("doc_id"), lit(nEmb)) === col("jk"))
      .drop("jk").localCheckpoint()
    val cfg4 = gateCfg.copy(semanticDir = Some(s"$tmp/sem"))
    timed("gate_decide4_100docs") {
      ops.IngestionGate.decide(spark, cfg4, gateProbeV).count()
    }

    // one stage-tagged drift frame per batch (lm + quality + semantic
    // monitors composed) — the operational read an intake loop adds to
    // each decide; baselines were written by the lm/quality sections,
    // so this row requires them (like the rest of this section)
    val cfgMon = cfg4.copy(qualityDir = Some(s"$tmp/qm"))
    timed("gate_monitor_100docs") {
      ops.IngestionGate.monitor(spark, cfgMon, gateProbeV).count()
    }

    // the monitor→retrain loop on a HEALTHY batch: per-batch cost of
    // maintain() when nothing alarms (three monitor reads, no rebuild)
    // — the steady-state tax an intake loop pays for self-healing
    timed("gate_maintain_100docs") {
      ops.IngestionGate.maintain(spark, cfgMon, gateProbeV,
        docs.select(col("doc_id"), col("text"))).count()
    }

    // Streaming-intake rehearsal: 10 sequential micro-batches through
    // the MUTATING gate (decide + index append + sink). The contract
    // under test is stability: per-batch cost must stay flat while the
    // index absorbs each batch's admissions — batch 10 paying more than
    // batch 1 would mean serve cost leaks corpus size.
    val intake = docs.orderBy(col("doc_id")).limit(1000)
      .withColumn("doc_id", col("doc_id") + 5000000L)
      .withColumn("text", concat_ws(" ", reverse(split(col("text"), " "))))
      .localCheckpoint()
    val perBatch = (0 until 10).map { i =>
      val batch = intake.filter(pmod(col("doc_id"), lit(10)) === i)
      val t = System.nanoTime()
      val n = ops.IngestionGate.gateBatch(spark, gateCfg, batch).count()
      ((System.nanoTime() - t) / 1e9, n)
    }
    println(f"IXBENCH gate_ingest_10x100           first=${perBatch.head._1}%.3f s last=${perBatch.last._1}%.3f s " +
      f"median=${perBatch.map(_._1).sorted.apply(5)}%.3f s admitted=${perBatch.map(_._2).sum}")
    }

    // Maintain-driven streaming intake (round 16 — the r15 verdict's
    // item 2): 10 sequential MUTATING batches, each gateBatch + maintain
    // — the full self-healing loop an operator actually schedules — with
    // an induced REGIME SHIFT at batch 5: the corpus re-delivered under
    // a new embedding model (q204's affine drift) with re-rendered
    // (reversed) text, so BOTH frozen-model families must alarm,
    // rebuild, gate and swap MID-STREAM, and batches 6–9 (new-regime
    // intake) must serve green against the healed layouts with flat
    // per-batch cost. Normal batches are two corpus docs concatenated
    // (in-distribution text the LM monitor stays quiet on) carrying
    // mid-point mixture vectors (in-hull for the quantizer, novel at
    // the raised τ=0.9 — exact re-renders still reject).
    section("maintainloop") {
    val mdir = s"$tmp/mloop"
    val corpus0 = docs.select(col("doc_id"), col("text")).localCheckpoint()
    var t0m = System.nanoTime()
    ops.DedupIndex.write(spark, corpus0, s"$mdir/dix")
    ops.LmModel.write(spark, corpus0, s"$mdir/lm")
    ops.LmModel.writeScoreStats(spark, s"$mdir/lm", corpus0)
    val evM = Tables.embeddings(spark, sfDir).select(col("vec_id"),
      functions.VectorFunctions.asDouble(col("embedding")).as("v")).localCheckpoint()
    val nEmbM = evM.count()
    ops.IngestionGate.writeSemantic(spark, evM, s"$mdir/sem")
    println(f"IXBENCH mloop_layout_build           ${(System.nanoTime() - t0m) / 1e9}%.3f s")
    val mcfg = ops.IngestionGate.Config(s"$mdir/dix", s"$mdir/lm", s"$mdir/acc",
      semanticDir = Some(s"$mdir/sem"), semanticTau = 0.9)
    // Fixture ids are DENSE RANKS, not raw ids: the rehearsal dirs'
    // key-shifted copies leave doc_id/vec_id sparse, so modulus joins on
    // raw ids silently empty out (the batch-0 "at least one row" crash
    // at 100×). zipWithIndex = the scaledSampleCentroids renumber shape.
    def denseIdx(df: org.apache.spark.sql.DataFrame, idCol: String) = {
      val sorted = df.orderBy(col(idCol))
      val schema = org.apache.spark.sql.types.StructType(
        org.apache.spark.sql.types.StructField("idx",
          org.apache.spark.sql.types.LongType, nullable = false) +: sorted.schema.fields)
      spark.createDataFrame(sorted.rdd.zipWithIndex.map { case (r, i) =>
        org.apache.spark.sql.Row.fromSeq(i +: r.toSeq) }, schema).localCheckpoint()
    }
    val docsD = denseIdx(corpus0, "doc_id") // (idx, doc_id, text)
    val vecsD = denseIdx(evM, "vec_id").select(col("idx"), col("v")).localCheckpoint()
    // normal intake: concat text + mixture vectors, novel ids
    val nd = corpus0.count()
    val mixTxt = docsD.as("a").join(
        docsD.as("b"), col("b.idx") === pmod(col("a.idx") + lit(nd / 2), lit(nd)))
      .select(col("a.idx").as("idx"), (col("a.idx") + 7000000000L).as("doc_id"),
        concat_ws(" ", col("a.text"), col("b.text")).as("text"))
    def mixVecs(df: org.apache.spark.sql.DataFrame, drifted: Boolean) = {
      val src = if (!drifted) vecsD
        else vecsD.select(col("idx"), expr("transform(v, x -> x * 1.5d + 0.25d)").as("v"))
      df.join(src.select(col("idx").as("jk"), col("v").as("v1")),
          pmod(col("idx"), lit(nEmbM)) === col("jk"))
        .join(src.select(col("idx").as("jk2"), col("v").as("v2")),
          pmod(col("idx") + lit(nEmbM / 2), lit(nEmbM)) === col("jk2"))
        .select(col("doc_id"), col("text"),
          expr("zip_with(v1, v2, (a, b) -> (a + b) / 2d)").as("v"))
        .localCheckpoint()
    }
    // batch 5: the regime shift — the corpus re-delivered re-embedded
    // (affine drift) and re-rendered (reversed text), ids shifted
    val regime = docsD.select(col("idx"), (col("idx") + 9000000000L).as("doc_id"),
      concat_ws(" ", reverse(split(col("text"), " "))).as("text"))
    val lines = (0 until 10).map { i =>
      // the INTAKE batch is always serve-contract bounded (gateBatch's
      // dedup stage broadcasts the batch's band triples — a corpus-scale
      // "batch" through it is a contract violation, measured as a failed
      // driver broadcast at the 100× rehearsal); the regime shift is a
      // RE-EMBED event, not new documents, so its mass reaches the loop
      // through maintain's monitored slice below, never through intake
      val batch = mixVecs(
        mixTxt.filter(pmod(col("idx"), lit(10)) === (i % 10)).limit(100),
        drifted = i >= 5)
      val t = System.nanoTime()
      val admitted = ops.IngestionGate.gateBatch(spark, mcfg, batch).count()
      val tGate = (System.nanoTime() - t) / 1e9
      val corpusNow = corpus0.unionByName(
        ops.IngestionGate.accepted(spark, mcfg).select(col("doc_id"), col("text")))
      // monitored slice: the intake batch, except at the shift — there
      // the upstream re-embedded the corpus, and maintain retrains on
      // that regime-scale mass (an outlier-sized slice would be refused
      // by design — codebook mass follows the corpus)
      val monitored = if (i == 5) mixVecs(regime, drifted = true) else batch
      val t2 = System.nanoTime()
      // SPARK_GRAFT_MLOOP_GATE=sampled runs the swap's ANN gate in the
      // bounded sampled-probe mode (policy knob, round 16) instead of
      // the exact corpus-covering default — the ms_rebuild/ms_gate
      // split below is how the two modes' swap-batch costs compare
      // (the r16 verdict's item 5: the 67.5 s shift batch at 100× was
      // one number; rebuild and gate needed separating).
      val mpol = if (sys.env.get("SPARK_GRAFT_MLOOP_GATE").contains("sampled"))
        ops.IngestionGate.MaintainPolicy(annGateShortlist = Some(64),
          annGateRecallPpm = 950000L)
      else ops.IngestionGate.MaintainPolicy()
      val m = ops.IngestionGate.maintain(spark, mcfg, monitored, corpusNow, mpol)
        .collect().map(r => (r.getAs[String]("stage"), r.getAs[Boolean]("alarmed"),
          r.getAs[Boolean]("swapped"), r.getAs[Long]("ms_rebuild"),
          r.getAs[Long]("ms_gate")))
      val tM = (System.nanoTime() - t2) / 1e9
      val alarmed = m.collect { case (st, true, _, _, _) => st }.mkString("+")
      val swapped = m.collect { case (st, _, true, _, _) => st }.mkString("+")
      val annSplit = m.collectFirst {
        case ("semantic", _, _, mr, mg) if mr > 0 || mg > 0 =>
          f" ann_rebuild=${mr / 1e3}%.3f s ann_gate=${mg / 1e3}%.3f s"
      }.getOrElse("")
      val line = f"IXBENCH mloop_batch_$i               gate=$tGate%.3f s maintain=$tM%.3f s " +
        s"admitted=$admitted alarmed=[$alarmed] swapped=[$swapped]$annSplit"
      println(line); line
    }
    // post-heal serve: a fresh new-regime batch decided against the
    // healed layouts — the "next batch serves green" evidence
    val post = mixVecs(mixTxt.filter(pmod(col("idx"), lit(10)) === 3)
      .withColumn("doc_id", col("doc_id") + 4000000000L).limit(100), drifted = true)
    val tP = System.nanoTime()
    val nPost = ops.IngestionGate.decide(spark, mcfg, post).count()
    println(f"IXBENCH mloop_post_heal_decide       ${(System.nanoTime() - tP) / 1e9}%.3f s (admitted=$nPost)")
    }

    // Corpus release upgrade (Release.upgrade*) vs a fresh v2 rebuild,
    // per upgradeable index. Text/dedup upgrades are O(delta) end to
    // end on epoch layouts (delta -> epoch tombstone -> O(delta)
    // append, NO compaction — the eager compact was measured
    // rebuild-priced here in round 10 and removed); ANN keeps one
    // compaction, which rewrites 4-byte codes (100-1000x smaller I/O
    // than the vectors) and skips the Lloyd retrain via the frozen
    // quantizers. Delta: ~7.7% changed, ~5.9% removed, 2% added — a
    // plausible between-releases churn. Equivalence is ReleaseSpec's
    // job; this section measures the cost gap those contracts buy.
    section("release") {
    val v2dir = s"$tmp/rel_v2"
    val v1d = docs.localCheckpoint()
    v1d.filter(col("doc_id") % 17 =!= 5)
      .withColumn("text", when(col("doc_id") % 13 === 0,
          concat(lit("rev "), col("text"))).otherwise(col("text")))
      .unionByName(v1d.filter(col("doc_id") % 50 === 3)
        .withColumn("doc_id", col("doc_id") + 50000000L))
      .write.mode("overwrite").parquet(s"$v2dir/documents.parquet")
    val emb = Tables.embeddings(spark, sfDir)
    emb.filter(col("vec_id") % 17 =!= 5)
      .withColumn("embedding", when(col("vec_id") % 13 === 0,
          transform(col("embedding"), x => (x * lit(-1)).cast("float")))
        .otherwise(col("embedding")))
      .unionByName(emb.filter(col("vec_id") % 50 === 3)
        .withColumn("vec_id", col("vec_id") + 50000000L))
      .write.mode("overwrite").parquet(s"$v2dir/embeddings.parquet")
    val v2d = Tables.documents(spark, v2dir).localCheckpoint()

    var t0 = System.nanoTime()
    val dd = ops.Release.delta(v1d, v2d, "doc_id", md5(col("text")))
    val (na, nc, nr) = dd.summary
    println(f"IXBENCH rel_delta_docs               ${(System.nanoTime() - t0) / 1e9}%.3f s " +
      f"(added=$na changed=$nc removed=$nr)")

    TextIndex.write(spark, sfDir, s"$tmp/rel_text")
    t0 = System.nanoTime()
    ops.Release.upgradeTextIndex(spark, s"$tmp/rel_text", v2d, dd)
    println(f"IXBENCH rel_upgrade_text             ${(System.nanoTime() - t0) / 1e9}%.3f s")
    t0 = System.nanoTime()
    TextIndex.write(spark, v2dir, s"$tmp/rel_text_fresh")
    println(f"IXBENCH rel_fresh_text               ${(System.nanoTime() - t0) / 1e9}%.3f s")

    ops.DedupIndex.write(spark, v1d, s"$tmp/rel_dix")
    t0 = System.nanoTime()
    ops.Release.upgradeDedupIndex(spark, s"$tmp/rel_dix", v2d, dd)
    println(f"IXBENCH rel_upgrade_dedup            ${(System.nanoTime() - t0) / 1e9}%.3f s")
    t0 = System.nanoTime()
    ops.DedupIndex.write(spark, v2d, s"$tmp/rel_dix_fresh")
    println(f"IXBENCH rel_fresh_dedup              ${(System.nanoTime() - t0) / 1e9}%.3f s")

    ops.LmModel.write(spark, v1d, s"$tmp/rel_lm")
    t0 = System.nanoTime()
    ops.Release.upgradeLmModel(spark, s"$tmp/rel_lm", v1d, v2d, dd)
    println(f"IXBENCH rel_upgrade_lm               ${(System.nanoTime() - t0) / 1e9}%.3f s")
    t0 = System.nanoTime()
    ops.LmModel.write(spark, v2d, s"$tmp/rel_lm_fresh")
    println(f"IXBENCH rel_fresh_lm                 ${(System.nanoTime() - t0) / 1e9}%.3f s")

    val asD = graft.functions.VectorFunctions.asDouble _
    val v1v = emb.select(col("vec_id"), asD(col("embedding")).as("v")).localCheckpoint()
    val v2v = Tables.embeddings(spark, v2dir)
      .select(col("vec_id"), asD(col("embedding")).as("v")).localCheckpoint()
    t0 = System.nanoTime()
    val de = ops.Release.delta(v1v, v2v, "vec_id", xxhash64(col("v")))
    println(f"IXBENCH rel_delta_vecs               ${(System.nanoTime() - t0) / 1e9}%.3f s")
    AnnIndex.write(spark, sfDir, s"$tmp/rel_ann")
    t0 = System.nanoTime()
    ops.Release.upgradeAnnIndex(spark, s"$tmp/rel_ann", v2v, de)
    println(f"IXBENCH rel_upgrade_ann              ${(System.nanoTime() - t0) / 1e9}%.3f s")
    t0 = System.nanoTime()
    AnnIndex.write(spark, v2dir, s"$tmp/rel_ann_fresh")
    println(f"IXBENCH rel_fresh_ann                ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }

    // Stage split of the REGISTERED q164/q165/q166 fixture (round 18,
    // the r17 verdict's item 5 — the msRebuild/msGate pattern applied
    // to the release family): same v1/v2 version scheme as the
    // registered queries (v1 = docs %17!=5; v2 = docs %19!=3 with
    // 'rev dup ' prefixes at %13=0), each stage timed separately so the
    // registry's one >2 s steady (q165) decomposes and a future
    // regression names its stage: build_v1 (amortized per session since
    // r18's clone), delta, upgrade (tombstone+append), serve.
    section("release_q") {
    val v1q = docs.filter(col("doc_id") % 17 =!= 5).localCheckpoint()
    val v2q = docs.filter(col("doc_id") % 19 =!= 3)
      .withColumn("text", when(col("doc_id") % 13 === 0,
        concat(lit("rev dup "), col("text"))).otherwise(col("text")))
      .localCheckpoint()
    var t0 = System.nanoTime()
    val dq = ops.Release.delta(v1q, v2q, "doc_id", md5(col("text")))
    val (na2, nc2, nr2) = dq.summary
    println(f"IXBENCH relq_delta                   ${(System.nanoTime() - t0) / 1e9}%.3f s " +
      f"(added=$na2 changed=$nc2 removed=$nr2)")
    // q164 stages
    t0 = System.nanoTime()
    TextIndex.writeDocs(spark, v1q, s"$tmp/relq_tix")
    println(f"IXBENCH relq_text_build_v1           ${(System.nanoTime() - t0) / 1e9}%.3f s (amortized per session)")
    t0 = System.nanoTime()
    val tix = ops.Release.upgradeTextIndex(spark, s"$tmp/relq_tix", v2q, dq)
    println(f"IXBENCH relq_text_upgrade            ${(System.nanoTime() - t0) / 1e9}%.3f s")
    timed("relq_text_serve")(
      TextIndex.search(spark, tix, Seq("dup", "vector", "spark"), 20).count())
    // q165 stages
    t0 = System.nanoTime()
    ops.DedupIndex.write(spark, v1q, s"$tmp/relq_dix")
    println(f"IXBENCH relq_dedup_build_v1          ${(System.nanoTime() - t0) / 1e9}%.3f s (amortized per session)")
    t0 = System.nanoTime()
    ops.Release.upgradeDedupIndex(spark, s"$tmp/relq_dix", v2q, dq)
    println(f"IXBENCH relq_dedup_upgrade           ${(System.nanoTime() - t0) / 1e9}%.3f s")
    val probeQ = v2q.filter(col("doc_id") % 23 === 7)
      .withColumn("doc_id", col("doc_id") + 100000L)
      .unionByName(docs.filter(col("doc_id") % 19 === 3 && col("doc_id") % 17 =!= 5)
        .withColumn("doc_id", col("doc_id") + 200000L)).localCheckpoint()
    timed("relq_dedup_serve")(
      ops.DedupIndex.queryBatch(spark, s"$tmp/relq_dix", probeQ).count())
    // q166 stages
    val asDq = graft.functions.VectorFunctions.asDouble _
    val e166 = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), asDq(col("embedding")).as("v")).localCheckpoint()
    val v1e = e166.filter(col("vec_id") % 17 =!= 5).localCheckpoint()
    val v2e = e166.filter(col("vec_id") % 19 =!= 3)
      .withColumn("v", when(col("vec_id") % 13 === 0,
        expr("transform(v, x -> x + 0.25d)")).otherwise(col("v")))
      .localCheckpoint()
    t0 = System.nanoTime()
    val de2 = ops.Release.delta(v1e, v2e, "vec_id", xxhash64(col("v")))
    println(f"IXBENCH relq_ann_delta               ${(System.nanoTime() - t0) / 1e9}%.3f s")
    t0 = System.nanoTime()
    AnnIndex.writeVectors(spark, v1e, s"$tmp/relq_ann")
    println(f"IXBENCH relq_ann_build_v1            ${(System.nanoTime() - t0) / 1e9}%.3f s (amortized per session)")
    t0 = System.nanoTime()
    val aix = ops.Release.upgradeAnnIndex(spark, s"$tmp/relq_ann", v2e, de2)
    println(f"IXBENCH relq_ann_upgrade             ${(System.nanoTime() - t0) / 1e9}%.3f s")
    timed("relq_ann_serve")(aix.codes.count())
    }

    section("semdedup") {
    // q199's fixed-16 clusters vs the scaled √n path: at fixed k the
    // confined pair sweep is quadratic per cluster as occupancy grows;
    // scaled k holds occupancy — and the sweep — constant. Both runs
    // report the flagged count so the two removal policies' yields are
    // visible alongside the cost. SPARK_GRAFT_SEMDEDUP_FORMS=scaled,ivf
    // limits the forms (the fixed-16 quadratic is ~70 min at 1M vectors
    // — once it's measured dominated, re-running it buys nothing).
    val forms = sys.env.get("SPARK_GRAFT_SEMDEDUP_FORMS")
      .map(_.split(",").map(_.trim).toSet)
    def form(name: String)(body: => Unit): Unit =
      if (forms.forall(_.contains(name))) body
    var t0 = System.nanoTime()
    form("fixed") {
    val f16 = ops.Dedup.semanticDedup.run(spark, sfDir).count()
    println(f"IXBENCH semdedup_fixed16             ${(System.nanoTime() - t0) / 1e9}%.3f s (flagged=$f16)")
    }
    form("scaled") {
    t0 = System.nanoTime()
    val fsc = ops.Dedup.semanticDedupScaled(spark, sfDir).count()
    println(f"IXBENCH semdedup_scaled_sqrtn        ${(System.nanoTime() - t0) / 1e9}%.3f s (flagged=$fsc)")
    }
    form("ivf") {
    // The production recommendation: sweep bucketed by the PERSISTED
    // serving index's lists. Build cost reported separately — it's the
    // serving artifact every ANN query already amortizes; the sweep row
    // is the MARGINAL cost semantic dedup adds on top of it.
    t0 = System.nanoTime()
    AnnIndex.writeScaled(spark, sfDir, s"$tmp/sdix")
    println(f"IXBENCH semdedup_ivf_build           ${(System.nanoTime() - t0) / 1e9}%.3f s (amortized serving artifact)")
    t0 = System.nanoTime()
    val fix = ops.Dedup.semanticDedupFromIndex(spark, sfDir, s"$tmp/sdix").count()
    println(f"IXBENCH semdedup_ivf_sweep           ${(System.nanoTime() - t0) / 1e9}%.3f s (flagged=$fix)")
    // Intake-gate serve latency: a 5% re-ingested batch (id-shifted
    // exact dups) gated against the persisted index — |batch|·k
    // assignment + the batch's cluster slices; every vector should be
    // caught (sim 1.0 to its original).
    val ev = Tables.embeddings(spark, sfDir).select(col("vec_id"),
      functions.VectorFunctions.asDouble(col("embedding")).as("v"))
    val batch = ev.filter(col("vec_id") % 20 === 3)
      .withColumn("vec_id", col("vec_id") + 1000000000L).localCheckpoint()
    val nb = batch.count()
    t0 = System.nanoTime()
    val ng = ops.Dedup.semanticDedupBatch(spark, s"$tmp/sdix", batch, ev).count()
    println(f"IXBENCH semdedup_intake_gate         ${(System.nanoTime() - t0) / 1e9}%.3f s (caught=$ng of $nb)")
    }
    form("degenerate") {
    // The round-14 hot-cluster guard's wall-clock proof: 200k IDENTICAL
    // vectors in one cluster — the mode-collapsed corpus the scaled-k
    // sizing cannot help (n²/2 pairs at ANY k; uncapped that is 2e10
    // cosine evals, i.e. hours). Under the default 4096 cap the sweep
    // is C(4096,2) ≈ 8.4M pairs and finishes in seconds, the dropped
    // memberships are logged, and every retained copy is flagged
    // against the rank-1 original.
    val u = array((1 to 64).map(i => lit(i * 0.1)): _*)
    // SPARK_GRAFT_SEMDEDUP_DEGEN_N sizes the collapsed corpus (default
    // 200k; 1M exercises the cap's one residual scale term — the
    // single-task rank sort of the hot bucket, O(m log m) by design)
    val degenN = sys.env.getOrElse("SPARK_GRAFT_SEMDEDUP_DEGEN_N", "200000").toLong
    val degenerate = spark.range(degenN)
      .select(col("id").as("vec_id"), lit(0).as("c_id"), u.as("v"))
      .localCheckpoint()
    t0 = System.nanoTime()
    val nd = ops.Dedup.dominatedBy(degenerate, 0.4).count()
    println(f"IXBENCH semdedup_degenerate_${degenN / 1000}%dk    ${(System.nanoTime() - t0) / 1e9}%.3f s " +
      f"(flagged=$nd of cap 4096; uncapped = ${degenN.toDouble * degenN / 2}%.1e pairs)")
    }
    }

    section("layout") {
    // The Z-order scan-skip win at bench scale (r12 verdict item):
    // lineitem with MATERIALIZED bucket columns (zx, zy) — so the box
    // predicate is on raw columns and parquet min/max stats prune
    // natively, no derived-expression simulation — written z-ordered vs
    // the same frame written in natural (l_orderkey) arrival order.
    // Reported: write cost, stats-touchable file counts for the 2-D box,
    // and the box-scan wall itself.
    val li = Tables.lineitem(spark, sfDir).select(
      (col("l_orderkey") % 256).as("zx"), (col("l_partkey") % 256).as("zy"),
      col("l_quantity")).localCheckpoint()
    val nParts = 64
    var t0 = System.nanoTime()
    li.repartition(nParts).write.mode("overwrite").parquet(s"$tmp/lay_plain")
    println(f"IXBENCH lay_write_plain              ${(System.nanoTime() - t0) / 1e9}%.3f s")
    t0 = System.nanoTime()
    sources.ZOrder.writeZOrdered(li, col("zx"), col("zy"), 8, nParts, s"$tmp/lay_z")
    println(f"IXBENCH lay_write_zorder             ${(System.nanoTime() - t0) / 1e9}%.3f s")
    // files a [32..47]x[64..79] box must touch, by per-file min/max
    def touched(dir: String): (Int, Int) = {
      val files = new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.getPath)
      val t = files.count { f =>
        val mm = spark.read.parquet(f)
          .agg(min(col("zx")), max(col("zx")), min(col("zy")), max(col("zy")))
          .collect()(0)
        mm.getLong(1) >= 32 && mm.getLong(0) <= 47 &&
          mm.getLong(3) >= 64 && mm.getLong(2) <= 79
      }
      (t, files.length)
    }
    val (pt, pn) = touched(s"$tmp/lay_plain")
    val (zt, zn) = touched(s"$tmp/lay_z")
    println(s"IXBENCH lay_files_touched            plain=$pt/$pn zorder=$zt/$zn")
    def box(dir: String): Long =
      spark.read.parquet(dir)
        .filter(col("zx") >= 32 && col("zx") <= 47 &&
          col("zy") >= 64 && col("zy") <= 79)
        .agg(count(lit(1)), sum(col("l_quantity").cast("decimal(18,2)")))
        .collect()(0).getLong(0)
    timed("lay_box_scan_plain") { box(s"$tmp/lay_plain") }
    timed("lay_box_scan_zorder") { box(s"$tmp/lay_z") }
    }

    section("release_cycle") {
    // The realistic "corpus v2 ships" sequence END TO END: one digest
    // delta per id space, all four indexes rolled forward in order,
    // then the NEXT intake batch gated against the upgraded serving
    // state — total upgrade wall vs total rebuild wall, plus an
    // upgraded-gate ≡ fresh-gate decision check (the composition the
    // per-index rel_* rows can't see).
    val v2dir = s"$tmp/cyc_v2"
    val v1d = docs.localCheckpoint()
    v1d.filter(col("doc_id") % 17 =!= 5)
      .withColumn("text", when(col("doc_id") % 13 === 0,
          concat(lit("rev "), col("text"))).otherwise(col("text")))
      .unionByName(v1d.filter(col("doc_id") % 50 === 3)
        .withColumn("doc_id", col("doc_id") + 50000000L))
      .write.mode("overwrite").parquet(s"$v2dir/documents.parquet")
    val emb = Tables.embeddings(spark, sfDir)
    emb.filter(col("vec_id") % 17 =!= 5)
      .withColumn("embedding", when(col("vec_id") % 13 === 0,
          transform(col("embedding"), x => (x * lit(-1)).cast("float")))
        .otherwise(col("embedding")))
      .unionByName(emb.filter(col("vec_id") % 50 === 3)
        .withColumn("vec_id", col("vec_id") + 50000000L))
      .write.mode("overwrite").parquet(s"$v2dir/embeddings.parquet")
    val v2d = Tables.documents(spark, v2dir).localCheckpoint()
    val asD = graft.functions.VectorFunctions.asDouble _
    val v1v = emb.select(col("vec_id"), asD(col("embedding")).as("v")).localCheckpoint()
    val v2v = Tables.embeddings(spark, v2dir)
      .select(col("vec_id"), asD(col("embedding")).as("v")).localCheckpoint()

    // v1 serving state — build cost is NOT part of the cycle comparison
    TextIndex.writeDocs(spark, v1d, s"$tmp/cyc_text")
    ops.DedupIndex.write(spark, v1d, s"$tmp/cyc_dix")
    ops.LmModel.write(spark, v1d, s"$tmp/cyc_lm")
    AnnIndex.writeVectors(spark, v1v, s"$tmp/cyc_ann")

    var t0 = System.nanoTime()
    val dd = ops.Release.delta(v1d, v2d, "doc_id", md5(col("text")))
    val de = ops.Release.delta(v1v, v2v, "vec_id", xxhash64(col("v")))
    ops.Release.upgradeTextIndex(spark, s"$tmp/cyc_text", v2d, dd)
    ops.Release.upgradeDedupIndex(spark, s"$tmp/cyc_dix", v2d, dd)
    ops.Release.upgradeLmModel(spark, s"$tmp/cyc_lm", v1d, v2d, dd)
    ops.Release.upgradeAnnIndex(spark, s"$tmp/cyc_ann", v2v, de)
    println(f"IXBENCH cycle_upgrade_total          ${(System.nanoTime() - t0) / 1e9}%.3f s (2 deltas + 4 upgrades)")

    t0 = System.nanoTime()
    TextIndex.writeDocs(spark, v2d, s"$tmp/cyc_text_f")
    ops.DedupIndex.write(spark, v2d, s"$tmp/cyc_dix_f")
    ops.LmModel.write(spark, v2d, s"$tmp/cyc_lm_f")
    AnnIndex.writeVectors(spark, v2v, s"$tmp/cyc_ann_f")
    println(f"IXBENCH cycle_rebuild_total          ${(System.nanoTime() - t0) / 1e9}%.3f s (4 fresh builds)")

    // the export RECEIPT rolls forward with the same delta (q196's
    // O(delta) XOR/additive algebra) — v1 receipt is serving state,
    // only the roll-forward and the fresh rebuild are timed
    val m1 = ops.Release.manifestOf(v1d.select(col("doc_id"), col("text")))
      .localCheckpoint(true)
    t0 = System.nanoTime()
    val mUp = ops.Release.upgradeManifest(m1, v1d, v2d, dd)
      .collect().map(_.toSeq).toSet
    println(f"IXBENCH cycle_manifest_upgrade       ${(System.nanoTime() - t0) / 1e9}%.3f s (O(delta) receipt roll-forward)")
    t0 = System.nanoTime()
    val mFresh = ops.Release.manifestOf(v2d.select(col("doc_id"), col("text")))
      .collect().map(_.toSeq).toSet
    println(f"IXBENCH cycle_manifest_fresh         ${(System.nanoTime() - t0) / 1e9}%.3f s (full v2 re-hash)")
    println(s"IXBENCH cycle_manifest_matches       ${mUp == mFresh} (rolled receipt == fresh receipt)")

    // post-release intake: 50 exact dups of v2 + 50 token-reversed
    // novelties (different shingles, same vocabulary — LM-scoreable),
    // gated against the UPGRADED serving state
    val half = v2d.orderBy(col("doc_id")).limit(50).localCheckpoint()
    val batch = half.withColumn("doc_id", col("doc_id") + 70000000L)
      .unionByName(half.withColumn("doc_id", col("doc_id") + 80000000L)
        .withColumn("text", concat_ws(" ", reverse(split(col("text"), " ")))))
      .localCheckpoint()
    val cfgU = ops.IngestionGate.Config(s"$tmp/cyc_dix", s"$tmp/cyc_lm", s"$tmp/cyc_accU")
    val cfgF = ops.IngestionGate.Config(s"$tmp/cyc_dix_f", s"$tmp/cyc_lm_f", s"$tmp/cyc_accF")
    t0 = System.nanoTime()
    val admittedU = ops.IngestionGate.decide(spark, cfgU, batch)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    println(f"IXBENCH cycle_post_gate_decide       ${(System.nanoTime() - t0) / 1e9}%.3f s (admitted=${admittedU.size}/100)")
    val admittedF = ops.IngestionGate.decide(spark, cfgF, batch)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    println(s"IXBENCH cycle_gate_matches_fresh     ${admittedU == admittedF} (upgraded-index gate == fresh-index gate)")
    }

    section("retrain") {
    // Act-on-alarm composition (round 15): the quantizer-drift alarm
    // chained into staged rebuild -> serve-equivalence + recovery gates
    // -> swap (ops.RetrainFlow). noop = the per-batch read a HEALTHY
    // intake loop pays (alarm only, no rebuild); cycle = a full regime
    // shift (the corpus re-ingested under the q204 affine drift), which
    // alarms, rebuilds into staging, gates on 16 undrifted probes
    // (frac=1.0 -> the equivalence check is exact at this corpus size)
    // and swaps. The swap's wall is dominated by the staged rebuild —
    // the cost the alarm exists to schedule.
    val eR = Tables.embeddings(spark, sfDir).select(col("vec_id"),
      functions.VectorFunctions.asDouble(col("embedding")).as("v"))
      .localCheckpoint()
    AnnIndex.writeVectors(spark, eR, s"$tmp/rt_ann")
    val probesR = eR.filter(col("vec_id") < 16)
      .select(col("vec_id").as("qid"), col("v")).localCheckpoint()
    var t0 = System.nanoTime()
    val rNoop = ops.RetrainFlow.annCycle(spark, s"$tmp/rt_ann", eR,
      eR.select((col("vec_id") + 2000000000L).as("vec_id"), col("v")),
      probesR, frac = 1.0)
    println(f"IXBENCH retrain_ann_noop             ${(System.nanoTime() - t0) / 1e9}%.3f s " +
      f"(alarmed=${rNoop.alarmed} ppm=${rNoop.alarmPpm})")
    val shifted = eR.select((col("vec_id") + 1000000000L).as("vec_id"),
      expr("transform(v, x -> x * 1.5d + 0.25d)").as("v")).localCheckpoint()
    // exact-equality gate contract: shortlists must cover the corpus at
    // gate time (16 fixed lists -> ceil(n/16) per probe)
    val spp = ((eR.count() + 15) / 16).toInt
    t0 = System.nanoTime()
    val rSwap = ops.RetrainFlow.annCycle(spark, s"$tmp/rt_ann", eR, shifted,
      probesR, frac = 1.0, shortlistPerProbe = spp)
    println(f"IXBENCH retrain_ann_cycle            ${(System.nanoTime() - t0) / 1e9}%.3f s " +
      f"(alarmed=${rSwap.alarmed} equivalent=${rSwap.equivalent} " +
      f"recovered=${rSwap.recovered} swapped=${rSwap.swapped} ppm=${rSwap.alarmPpm})")
    // LM flavor: the alarm-read cost plus whatever the corpus's
    // diversity lets the reversal fixture trip (on the high-diversity
    // synthetic corpus the ratio sits near 1x — q207's documented gap)
    ops.LmModel.write(spark, docs, s"$tmp/rt_lm")
    ops.LmModel.writeScoreStats(spark, s"$tmp/rt_lm", docs)
    val lmBatch = docs.filter(col("doc_id") % 10 === 7)
      .select((col("doc_id") + 9000000L).as("doc_id"),
        concat_ws(" ", reverse(split(col("text"), " "))).as("text"))
      .localCheckpoint()
    t0 = System.nanoTime()
    val rLm = ops.RetrainFlow.lmCycle(spark, s"$tmp/rt_lm", docs, lmBatch)
    println(f"IXBENCH retrain_lm_cycle             ${(System.nanoTime() - t0) / 1e9}%.3f s " +
      f"(alarmed=${rLm.alarmed} swapped=${rLm.swapped} ppm=${rLm.alarmPpm})")
    // classifier flavor (trio-completing): degraded-crawl 2-token batch
    // at the classifier's tighter 10% threshold (its hard-sigmoid
    // clamps the low tail, so ppm drift is compressed vs the LM's)
    val qmCorpus = docs.select(col("doc_id"), col("text")).localCheckpoint()
    ops.QualityModel.write(spark, qmCorpus, s"$tmp/rt_qm")
    ops.QualityModel.writeScoreStats(spark, s"$tmp/rt_qm", qmCorpus)
    val qmBatch = qmCorpus.filter(col("doc_id") % 10 === 7)
      .select((col("doc_id") + 9500000L).as("doc_id"),
        concat_ws(" ", slice(split(col("text"), " "), 1, 2)).as("text"))
      .localCheckpoint()
    t0 = System.nanoTime()
    val rQm = ops.RetrainFlow.qmCycle(spark, s"$tmp/rt_qm", qmCorpus, qmBatch,
      alarmRatioPpm = 1100000L)
    println(f"IXBENCH retrain_qm_cycle             ${(System.nanoTime() - t0) / 1e9}%.3f s " +
      f"(alarmed=${rQm.alarmed} swapped=${rQm.swapped} ppm=${rQm.alarmPpm})")
    }
    spark.stop()
  }
}
