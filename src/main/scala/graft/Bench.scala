package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Tune.Cpus
    val spark = Tune.session()
    plans.TopKRewriteInstall.ensureInstalled(spark) // window top-k -> heap
    // Warm the JVM (parquet reader, codegen, shuffle paths) on the smallest
    // scale factor so the first timed query doesn't absorb ~5s of JIT cost.
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    // Timing action: `count()` by default — NOTE it lets Catalyst prune
    // work a query's consumer wouldn't need (an unused window/sort in a
    // pure-projection query times as a scan count). Kept as the default
    // for cross-round comparability; SPARK_GRAFT_BENCH_STRICT=1 instead
    // executes the FULL physical plan via the RDD (no count-specific
    // rewrite) for local analysis of projection-shaped queries.
    val strict = sys.env.get("SPARK_GRAFT_BENCH_STRICT").contains("1")
    def run(df: org.apache.spark.sql.DataFrame): Unit =
      if (strict) df.queryExecution.toRdd.count() else df.count()
    // HEAT PROBE (round 18, the r17 verdict's item 1): the r17 one-shot
    // window carried a mid-loop host-load transient (q157–q178 inflated
    // 2–2.6×) that both END-of-run calibration rows missed — the heat
    // arrived and left inside the loop. This fixed-work scalar probe
    // (the `calib` job, ~80 ms) is interleaved every 20 queries, so a
    // transient is attributable from the artifact alone: a hot span's
    // enclosing probes read high while the rest stay flat. Probes are
    // timed OUTSIDE the per-query clocks and excluded from the total.
    def heatProbe(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 1L << 28, 1L, cpus)
        .selectExpr("sum((id * 2654435761) % 1000003)").collect()
      (System.nanoTime() - t0) / 1e9
    }
    // PARALLEL in-loop heat probe (round 19): the r18 driver artifact
    // proved the scalar probe BLIND to multi-core contention — the
    // q16x–q19x one-shot span inflated 2–10× while the scalar probes
    // bracketing it read near-normal, and only the END-of-run calib_par
    // (6.78 s vs 1.84 s in the same driver's cool 8-cpu window) recorded
    // the heat, too late to bracket the span. This is calib_par's exact
    // shuffle-aggregate shape at 1/8 the rows (~0.2–0.3 s cool), run
    // beside the scalar probe every 20 queries and emitted as
    // `heat_trace_par`, so a parallel-capacity transient is attributable
    // to a query span from the artifact alone. Outside the per-query
    // clocks, excluded from the total, like the scalar probe.
    def heatProbePar(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 1L << 22, 1L, cpus)
        .selectExpr("(id * 2654435761) % 1048576 AS k", "id % 1000003 AS v")
        .groupBy("k").agg(org.apache.spark.sql.functions.sum("v").as("sv"))
        .selectExpr("sum(hash(k, sv))").collect()
      (System.nanoTime() - t0) / 1e9
    }
    heatProbe() // warm the probes' codegen'd plans pre-loop
    heatProbePar()
    val heatTrace = scala.collection.mutable.ArrayBuffer.empty[(Int, Double)]
    val heatTracePar = scala.collection.mutable.ArrayBuffer.empty[(Int, Double)]
    // A query that THROWS records -1, never its time-to-throw: a broken
    // query must not contribute a fake timing to the graded total or
    // occupy a slowest-15 steady slot.
    val results = SparkEntry.queries.toSeq.sortBy(_._1).zipWithIndex.map {
      case ((name, fn), i) =>
        if (i % 20 == 0) {
          heatTrace += ((i, heatProbe()))
          heatTracePar += ((i, heatProbePar()))
        }
        val wall0 = System.currentTimeMillis()
        val t0 = System.nanoTime()
        val elapsed =
          try { run(fn(spark, sfDir)); (System.nanoTime() - t0) / 1e9 }
          catch { case scala.util.control.NonFatal(_) => -1.0 }
        (name, elapsed, wall0)
    }
    heatTrace += ((SparkEntry.queries.size, heatProbe()))
    heatTracePar += ((SparkEntry.queries.size, heatProbePar()))
    // %.3f via the f-interpolator is locale-sensitive (comma decimals under
    // e.g. de_DE would corrupt the JSON), so format explicitly with ROOT.
    def d3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    // Full per-query detail on separate lines (human log / BENCH.md).
    // `@ <epoch ms>` is the query's wall-clock start (r17 verdict item 1:
    // a mid-window load transient must be attributable from the artifact).
    results.foreach { case (n, s, w0) =>
      println(s"BENCHQ ${n.padTo(28, ' ')} ${d3(s)} s @ $w0")
    }
    heatTrace.foreach { case (i, s) =>
      println(s"HEATQ  ${s"probe_before_q$i".padTo(28, ' ')} ${d3(s)} s")
    }
    heatTracePar.foreach { case (i, s) =>
      println(s"HEATP  ${s"par_probe_before_q$i".padTo(28, ' ')} ${d3(s)} s")
    }
    val resultsQ: Seq[(String, Double)] = results.map(t => (t._1, t._2))
    // -1 failure sentinels are excluded from the graded total (they'd
    // *reduce* it); the per-query map still carries them as markers, and
    // `failed` below poisons the headline so breakage can never read as a
    // perf win (round 7: 15 throwing queries silently shrank the total).
    val failed = results.count(_._2 < 0)
    val total = results.map(_._2).filter(_ >= 0).sum
    // STEADY-STATE medians for the slowest queries: the one-shot total
    // swings 1.5x with host load (round 4: 64-102 s across a session,
    // which nearly masked a 10x per-query win), so regression grading
    // uses post-JIT medians-of-3 — the Probe methodology, emitted here
    // so every BENCH_r{N}.json carries both views.
    // A run that THROWS records -1, never its time-to-throw: steady is
    // the regression-grading metric, and a query broken by a change
    // must not read as a performance win.
    //
    // PINNED probe set (round 9; the round-7/8 verdicts' open item): a
    // pure slowest-15-of-this-run set rotates with host load (4 queries
    // churned r7->r8), and a query entering the set mid-history gets a
    // different session-warmth context than incumbents — the documented
    // false-regression mechanism. The set is therefore the UNION of the
    // latest BENCH_r*.json's steady keys (so every query graded last
    // round is graded this round, under the same warm-state position)
    // and this run's slowest-15 (so newly-slow queries still enter).
    // Deterministic cap at 24 keeps bench runtime bounded: pinned keys
    // always survive, current-run entrants fill the remainder slowest-
    // first.
    val priorSteady: Set[String] = {
      val files = Option(new java.io.File(".").listFiles()).getOrElse(Array.empty)
        .filter(_.getName.matches("BENCH_r\\d+\\.json"))
      files.sortBy(_.getName).lastOption.toSeq.flatMap { f =>
        val text = try scala.io.Source.fromFile(f).mkString catch {
          case scala.util.control.NonFatal(_) => ""
        }
        """"steady"\s*:\s*\{([^}]*)\}""".r.findFirstMatchIn(text).toSeq
          .flatMap(m => """"([^"]+)"\s*:""".r.findAllMatchIn(m.group(1))
            .map(_.group(1)))
      }.toSet.intersect(results.map(_._1).toSet) // renamed/retired queries drop out
    }
    val current15 = resultsQ.sortBy(-_._2).take(15).map(_._1)
    val steadySet =
      (priorSteady.toSeq.sorted ++
        current15.filterNot(priorSteady)).take(24).sorted
    val steady = steadySet.map { name =>
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        try { run(SparkEntry.queries(name)(spark, sfDir))
          (System.nanoTime() - t0) / 1e9
        } catch { case scala.util.control.NonFatal(_) => -1.0 }
      }.sorted
      name -> (if (ts.head < 0) -1.0 else ts(1))
    }
    steady.foreach { case (n, s) => println(s"STEADYQ ${n.padTo(28, ' ')} ${d3(s)} s") }
    // STRICT steady medians for the projection-shaped queries where the
    // default count() action lets Catalyst prune the very work being
    // graded (an unused window/sort times as a scan count — the 1000x
    // rehearsal lesson): executed via the full physical plan, so a
    // regression in window/projection cost cannot hide behind plan
    // pruning. Fixed list by design — these are the q17-class shapes.
    val strictProbes = Seq("q05_dual_format_dates", "q17_window_lag",
      "q40_fingerprint", "q44_window_frames", "q84_window_navigation",
      "q104_text_normalize").filter(SparkEntry.queries.contains)
    val steadyStrict = strictProbes.map { name =>
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        try { SparkEntry.queries(name)(spark, sfDir).queryExecution.toRdd.count()
          (System.nanoTime() - t0) / 1e9
        } catch { case scala.util.control.NonFatal(_) => -1.0 }
      }.sorted
      name -> (if (ts.head < 0) -1.0 else ts(1))
    }
    steadyStrict.foreach { case (n, s) => println(s"STRICTQ ${n.padTo(28, ' ')} ${d3(s)} s") }
    // CALIBRATION row (round 14, the r13 verdict's housekeeping item):
    // a FIXED-WORK pure-compute job — no I/O, no shuffle, one codegen'd
    // range sum — timed as a post-warm median-of-3. Two rounds' one-shot
    // totals were dominated by host/window heat and had to be
    // adjudicated inferentially from byte-unchanged heavyweights; this
    // row makes that mechanical: cross-round ratios of `calib` measure
    // the window, ratios of query steadies measure the code.
    val calib = {
      def once(): Double = {
        val t0 = System.nanoTime()
        // term bounded < 1e6 so the 268M-term ANSI sum can't overflow
        spark.range(0L, 1L << 28, 1L, cpus)
          .selectExpr("sum((id * 2654435761) % 1000003)").collect()
        (System.nanoTime() - t0) / 1e9
      }
      once() // warm the codegen'd plan once
      Seq(once(), once(), once()).sorted.apply(1)
    }
    println(s"CALIBQ ${"fixed_range_sum".padTo(28, ' ')} ${d3(calib)} s")
    // PARALLEL-LOAD calibration row (round 17, the r16 verdict's item 2):
    // the scalar `calib` above runs one ~80 ms single-stage loop and is
    // blind to multi-core heat — the r16 driver window drifted untouched
    // queries 1.40-1.46x while `calib` read EQUAL, so every steady flag
    // needed a manual worktree A/B to adjudicate. This row is fixed work
    // that saturates the cores the way the graded queries do: a
    // 32-partition generate -> hash-aggregate (1M groups) -> shuffle ->
    // final aggregate, post-warm median-of-3. Cross-round ratios of
    // `calib_par` measure the WINDOW's parallel capacity; steady ratios
    // divided by it measure the code (tools/steady_compare --normalize).
    val calibPar = {
      def once(): Double = {
        val t0 = System.nanoTime()
        spark.range(0L, 1L << 25, 1L, cpus)
          .selectExpr("(id * 2654435761) % 1048576 AS k", "id % 1000003 AS v")
          .groupBy("k").agg(org.apache.spark.sql.functions.sum("v").as("sv"))
          .selectExpr("sum(hash(k, sv))").collect()
        (System.nanoTime() - t0) / 1e9
      }
      once() // warm
      Seq(once(), once(), once()).sorted.apply(1)
    }
    println(s"CALIBQ ${"fixed_shuffle_agg".padTo(28, ' ')} ${d3(calibPar)} s")
    // The driver captures only the LAST ~2000 chars of output and parses the
    // JSON line out of that window — round-1 full-precision doubles pushed the
    // line to ~3k chars and its head was truncated, so the driver recorded
    // "parsed": null. Keep the machine line compact: 3-decimal values, and if
    // it still exceeds the budget, keep only the slowest queries in the map
    // (the total is what BASELINE.md grades; per-query is informative).
    def render(kept: Seq[(String, Double)], dropped: Int): String = {
      val qs = kept.map { case (k, v) => s""""$k":${d3(v)}""" }.mkString("{", ",", "}")
      val st = steady.map { case (k, v) => s""""$k":${d3(v)}""" }.mkString("{", ",", "}")
      val ss = steadyStrict.map { case (k, v) => s""""$k":${d3(v)}""" }.mkString("{", ",", "}")
      val trunc = if (dropped > 0) s""","queries_omitted":$dropped""" else ""
      // A non-zero failure count invalidates the headline: report -1 (an
      // impossible total) plus the count, so no comparison against a clean
      // round can mistake "15 queries threw" for "22% faster".
      val headline = if (failed > 0) -1.0 else total
      // heat_trace: [query-index, probe seconds] pairs from the in-loop
      // fixed-work probes — the mid-window transient detector (item 1).
      val ht = heatTrace.map { case (i, v) => s"[$i,${d3(v)}]" }
        .mkString("[", ",", "]")
      val htp = heatTracePar.map { case (i, v) => s"[$i,${d3(v)}]" }
        .mkString("[", ",", "]")
      s"""{"metric":"total","value":${d3(headline)},"unit":"sec","failed":$failed,"queries":$qs,"steady":$st,"steady_strict":$ss$trunc,"calib":${d3(calib)},"calib_par":${d3(calibPar)},"heat_trace":$ht,"heat_trace_par":$htp,"sf":"$sfDir","n":${results.size}}"""
    }
    val bySlowest = resultsQ.sortBy(-_._2)
    var kept = bySlowest
    var line = render(kept.sortBy(_._1), results.size - kept.size)
    while (line.length > 1800 && kept.size > 1) {
      kept = kept.dropRight(math.max(1, kept.size / 10))
      line = render(kept.sortBy(_._1), results.size - kept.size)
    }
    println(line)
    spark.stop()
  }
}
