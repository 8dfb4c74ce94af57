package graftbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.ops.{Advanced13, Advanced15, AnnIndex, DedupIndex, IngestionGate, LmModel,
  QualityModel, TextIndex}

/** The benchmark's JVM side. It reads the generator's plan and inputs,
  * sets the workload up the plan's `setup_reps` times, then runs a fixed
  * number of timed passes of the workload's work, each op timed from
  * outside the library. With `--trace 1` each call into a layer is a span
  * and a SparkListener charges Spark work to its op. Raw records go to
  * `--out` as JSON; run.py checks the outputs and computes the metrics.
  *
  *   java -cp <classpath> graftbench.Main --workload serve --inputs IN
  *     --work DIR --seconds 10 --trace 0 --out out.json
  */
object Main {

  final case class Args(workload: String, inputs: String, work: String,
    seconds: Double, trace: Boolean, out: String)

  private def parseArgs(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def req(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(req("workload"), req("inputs"), req("work"), req("seconds").toDouble,
      req("trace") == "1", req("out"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parseArgs(argv)
    val plan = new ObjectMapper().readTree(new File(s"${a.inputs}/plan.json"))
    val tS = System.nanoTime()
    val spark = graft.Tune(SparkSession.builder())
      .master("local[4]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.plans.TopKRewriteInstall.ensureInstalled(spark)
    val sessionS = (System.nanoTime() - tS) / 1e9
    val rec = new Recorder(spark, a.trace)
    val run = new Run(spark, rec, a, plan)
    val extra = a.workload match {
      case "warehouse" => run.warehouse()
      case "serve" => run.serve()
      case "intake" => run.intake()
      case w => sys.error(s"unknown workload $w")
    }
    rec.drain()
    val result = Map("workload" -> a.workload, "session_s" -> sessionS) ++
      run.common ++ extra ++ rec.toJson
    new ObjectMapper().registerModule(DefaultScalaModule).writeValue(new File(a.out), result)
    spark.stop()
  }
}

/** One benchmark run inside one SparkSession. */
final class Run(spark: SparkSession, rec: Recorder, a: Main.Args, plan: JsonNode) {
  private val in = a.inputs
  private val common0 = scala.collection.mutable.LinkedHashMap.empty[String, Any]
  def common: Map[String, Any] = common0.toMap
  private val storageSamples = ArrayBuffer.empty[Map[String, Any]]
  private val diskSamples = ArrayBuffer.empty[Map[String, Any]]

  private def secs[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Fixed-work host-capacity probe: Bench's `calib_par` shuffle-aggregate
    * shape at 1/512 of its rows. Reported beside the metrics, never graded. */
  private def hostProbe(): Double = secs {
    spark.range(0L, 1L << 16, 1L, 4)
      .selectExpr("(id * 2654435761) % 1048576 AS k", "id % 1000003 AS v")
      .groupBy("k").agg(org.apache.spark.sql.functions.sum("v").as("sv"))
      .selectExpr("sum(hash(k, sv))").collect()
  }._2

  private def rmrf(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val w = Files.walk(p)
      try w.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => Files.delete(f))
      finally w.close()
    }
  }

  private def copyTree(src: String, dst: String): Unit = {
    rmrf(dst)
    val s = Paths.get(src)
    val w = Files.walk(s)
    try w.iterator().asScala.foreach { p =>
      val t = Paths.get(dst).resolve(s.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.COPY_ATTRIBUTES)
    } finally w.close()
  }

  /** Land generated tables in a fresh data directory. Every set-up
    * repetition gets its own, so session-shared caches keyed by the data
    * directory never carry work from one repetition to the next. */
  private def land(tables: Seq[String], dir: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    tables.foreach(t => Files.copy(Paths.get(s"$in/tables/$t.parquet"),
      Paths.get(s"$dir/$t.parquet")))
  }

  /** Run `body` `setupReps` times, each into its own directory, and keep
    * the last one. Returns it with per-repetition step timings. */
  private def setupReps(name: String)(body: String => Seq[(String, Double)]): String = {
    val nReps = plan.get("setup_reps").asInt()
    val reps = (1 to nReps).map { r =>
      val dir = s"${a.work}/$name-setup$r"
      val (steps, total) = secs(body(dir))
      if (r < nReps) rmrf(dir) // the last repetition is the one served
      Map("total_s" -> total, "steps" -> steps.map { case (k, v) => Map("name" -> k, "s" -> v) })
    }
    common0("setup") = reps
    s"${a.work}/$name-setup$nReps"
  }

  private def step(name: String)(body: => Unit): (String, Double) = (name, secs(body)._2)

  /** Files and bytes under each of `dirs` after the last op (traced runs). */
  private def sampleDisk(root: String, dirs: Seq[String]): Unit = if (rec.tracing)
    diskSamples += Map("after_op" -> (rec.opCount - 1), "dirs" -> dirs.map { d =>
      val (n, b) = Recorder.onDisk(s"$root/$d")
      Map("dir" -> d, "files" -> n, "bytes" -> b)
    })

  private def sampleStorage(): Unit = if (rec.tracing) {
    val (n, b) = Recorder.storage(spark)
    storageSamples += Map("after_op" -> (rec.opCount - 1), "persistent_rdds" -> n, "mem_bytes" -> b)
  }

  /** Run the timed passes: as many as fit `--seconds` at the plan's
    * nominal pass length, at least one — a count fixed before the clock
    * starts, so every run of a workload does the same work. With
    * `--trace 1` every pass is traced. */
  private def timedPasses(onePass: Int => Unit): Unit = {
    hostProbe() // first run compiles the probe; before and after time the same work
    common0("host_probe_before_s") = hostProbe()
    val nominal = plan.get("nominal_pass_s").asDouble()
    val nPasses = math.max(1, math.round(a.seconds / nominal).toInt)
    rec.tracing = a.trace
    val passes = (1 to nPasses).map { p =>
      val (_, s) = secs(onePass(p))
      Map("pass" -> p, "s" -> s, "traced" -> rec.tracing)
    }
    rec.tracing = false
    common0("passes") = passes.toSeq
    common0("host_probe_after_s") = hostProbe()
    val (n, b) = Recorder.storage(spark)
    common0("storage_end") = Map("persistent_rdds" -> n, "mem_bytes" -> b)
    common0("storage_samples") = storageSamples.toSeq
    common0("disk_samples") = diskSamples.toSeq
  }

  private def strings(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText()).toSeq

  /** Order-insensitive digest of a small collected result. */
  private def digest(rows: Array[Row]): String = {
    val lines = rows.map(_.toSeq.map(v => String.valueOf(v)).mkString("\u0001")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    s"rows=${rows.length};sha=${md.digest().take(8).map("%02x".format(_)).mkString}"
  }

  private def collect(df: DataFrame): Array[Row] = rec.span("spark.action")(df.collect())

  // ------------------------------------------------------------ warehouse

  def warehouse(): Map[String, Any] = {
    val modules: Map[String, Seq[graft.Q]] = Map(
      "Analytics" -> graft.ops.Analytics.specs, "Clean" -> graft.ops.Clean.specs,
      "Dimensional" -> graft.ops.Dimensional.specs, "Joins" -> graft.ops.Joins.specs,
      "Events" -> graft.ops.Events.specs, "Quality" -> graft.ops.Quality.specs)
    val byName = modules.toSeq.flatMap { case (m, qs) => qs.map(q => q.name -> (m, q)) }.toMap
    val order = strings(plan.get("query_order"))
    val missing = order.filterNot(byName.contains)
    require(missing.isEmpty, s"plan names queries the engine lacks: $missing")
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events")
    // set-up: open every table (schema, footers, row count), as a query
    // session does before its first query
    val dir = s"$in/tables"
    setupReps("warehouse") { _ =>
      Seq(step("open_tables")(tables.foreach(t => spark.read.parquet(s"$dir/$t.parquet").count())))
    }
    // untimed warm-up on queries outside the inventory (join, aggregate,
    // window, rollup, string/date/json functions, sort, write), so the
    // first inventory queries in the seeded order do not carry the
    // session's first-use class loading alone
    common0("warmup_s") = secs {
      import org.apache.spark.sql.functions._
      val o = spark.read.parquet(s"$dir/orders.parquet")
      val l = spark.read.parquet(s"$dir/lineitem.parquet")
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey")).agg(sum("l_quantity").as("q"))
        .withColumn("r", rank().over(
          org.apache.spark.sql.expressions.Window.orderBy(col("q").desc)))
        .orderBy(col("r")).write.mode("overwrite").parquet(s"${a.work}/warmup1")
      spark.read.parquet(s"$dir/events.parquet")
        .select(upper(trim(col("event_type"))).as("t"),
          get_json_object(col("props"), "$.k").as("k"), col("value"))
        .rollup(col("t"), col("k")).agg(countDistinct(col("value")).as("n"))
        .write.mode("overwrite").parquet(s"${a.work}/warmup2")
    }._2
    // Each op runs one query and writes its result table, as the reference
    // pipeline does; the write executes the full physical plan, so nothing
    // is pruned, and run.py checks the written table against the oracle.
    // The timed pass is each query's first run in this JVM, as in a batch
    // pipeline run: its cost includes code generation and JIT warm-up.
    val resDir = s"${a.work}/results"
    timedPasses { p =>
      order.foreach { q =>
        val (m, spec) = byName(q)
        rec.op(q, s"ops.$m", p) {
          val df = rec.span(s"ops.$m")(spec.run(spark, dir))
          rec.span("spark.action")(df.write.mode("overwrite").parquet(s"$resDir/$q"))
        }(_ => "")
        sampleStorage()
      }
    }
    Map("results_dir" -> resDir,
      "oracle_sql" -> order.map(q => q -> byName(q)._2.oracle.getOrElse("")).toMap)
  }

  // ---------------------------------------------------------------- serve

  private def docsOf(dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet").select(col("doc_id"), col("text"))

  private def vectorsOf(dir: String): DataFrame =
    spark.read.parquet(s"$dir/embeddings.parquet").select(col("vec_id"),
      graft.functions.VectorFunctions.asDouble(col("embedding")).as("v"))

  def serve(): Map[String, Any] = {
    val dir = setupReps("serve") { d =>
      Seq(
        step("land")(land(Seq("documents", "embeddings"), d)),
        step("AnnIndex")(AnnIndex.writeScaled(spark, d, s"$d/ann")),
        step("TextIndex")(TextIndex.write(spark, d, s"$d/text")),
        step("DedupIndex")(DedupIndex.write(spark, docsOf(d), s"$d/dedup")),
        step("LmModel")(LmModel.write(spark, docsOf(d), s"$d/lm")),
        step("QualityModel")(QualityModel.write(spark, docsOf(d), s"$d/quality")))
    }
    val indexDirs = Seq("ann", "text", "dedup", "lm", "quality")
    val vectors = vectorsOf(dir)
    val pool = plan.get("serve_pool").asInt()
    val queries = (0 until pool).map(i => spark.read.parquet(s"$in/serve/queries_$i.parquet"))
    val batches = (0 until pool).map(i => spark.read.parquet(s"$in/serve/docs_$i.parquet"))
    val terms = plan.get("term_sets").elements().asScala.map(strings).toIndexedSeq
    val args = plan.get("serve_args")
    val gate = IngestionGate.Config(s"$dir/dedup", s"$dir/lm", s"${a.work}/serve-accepted",
      minMeanPpm = args.get("gate_min_mean_ppm").asLong())
    val mix = plan.get("serve_mix").elements().asScala
      .map(n => (n.get("call").asText(), n.get("input").asInt())).toSeq

    // each serve call: the public entry point it times, and the call on
    // pool input i (its result frame, which `collect` materializes)
    val calls: Map[String, (String, Int => DataFrame)] = Map(
      "ann_search" -> ("ops.AnnIndex.search", i =>
        AnnIndex.search(spark, AnnIndex.load(spark, s"$dir/ann"), queries(i),
          nprobe = args.get("ann_nprobe").asInt(), k = args.get("ann_k").asInt())),
      "ann_search_rerank" -> ("ops.AnnIndex.searchRerank", i =>
        AnnIndex.searchRerank(spark, AnnIndex.load(spark, s"$dir/ann"), vectors, queries(i),
          k = args.get("ann_k").asInt(), frac = args.get("rerank_frac").asDouble(),
          shortlistPerProbe = args.get("rerank_shortlist_per_probe").asInt())),
      "text_search" -> ("ops.TextIndex.search", i =>
        TextIndex.search(spark, TextIndex.load(spark, s"$dir/text"), terms(i), 10)), // top 10, as q146
      "dedup_query_batch" -> ("ops.DedupIndex.queryBatch", i =>
        DedupIndex.queryBatch(spark, s"$dir/dedup", batches(i))),
      "lm_score_batch" -> ("ops.LmModel.scoreBatch", i =>
        LmModel.scoreBatch(spark, s"$dir/lm", batches(i))),
      "quality_score_batch" -> ("ops.QualityModel.scoreBatch", i =>
        QualityModel.scoreBatch(spark, s"$dir/quality", batches(i))),
      "gate_decide" -> ("ops.IngestionGate.decide", i =>
        IngestionGate.decide(spark, gate, batches(i))))
    // no separate warm-up pass: set-up already ran every layer the serve
    // calls use
    val results = ArrayBuffer.empty[Map[String, Any]]
    timedPasses { p =>
      mix.foreach { case (c, i) =>
        val (entry, fn) = calls(c)
        rec.op(s"$c/$i", entry, p) {
          val df = rec.span(entry)(fn(i))
          (df.columns.toSeq, collect(df))
        } { case (cols, rows) =>
          // kept for run.py's reference check, after the clock stopped
          results += Map("op" -> rec.opCount, "columns" -> cols,
            "rows" -> rows.map(_.toSeq).toSeq)
          digest(rows)
        }
        sampleStorage()
        sampleDisk(dir, indexDirs)
      }
    }
    // the engine's DuckDB oracles for the batch calls (corpus doc_id < 400,
    // arriving docs above) and for BM25; run.py replays them on the same
    // inputs, and replays the ANN read path over the persisted index
    val oracles = Map(
      "text_search" -> Advanced13.bm25,
      "dedup_query_batch" -> DedupIndex.incrementalNearDup,
      "lm_score_batch" -> Advanced15.incrementalLmScore,
      "quality_score_batch" -> QualityModel.incrementalQualityScore,
      "gate_decide" -> IngestionGate.composedDecide)
    Map("serve_dir" -> dir, "results" -> results.toSeq,
      "oracle_sql" -> oracles.map { case (c, q) => c -> q.oracle.get })
  }

  // --------------------------------------------------------------- intake

  def intake(): Map[String, Any] = {
    val base = setupReps("intake") { d =>
      Seq(
        step("land")(land(Seq("documents"), d)),
        step("DedupIndex")(DedupIndex.write(spark, docsOf(d), s"$d/dedup")),
        step("LmModel")(LmModel.write(spark, docsOf(d), s"$d/lm")),
        step("TextIndex")(TextIndex.writeDocs(spark, docsOf(d), s"$d/text")))
    }
    val nb = plan.get("intake_batches").asInt()
    val every = plan.get("text_append_every").asInt()
    val probeTerms = strings(plan.get("probe_terms"))
    val batches = (0 until nb).map(i => spark.read.parquet(s"$in/intake/batch_$i.parquet"))
    val live = s"${a.work}/intake-live"
    val cfg = IngestionGate.Config(s"$live/dedup", s"$base/lm", s"$live/accepted")
    val liveDirs = Seq("dedup", "text", "accepted")
    def reset(): Unit = {
      rmrf(live)
      copyTree(s"$base/dedup", s"$live/dedup")
      copyTree(s"$base/text", s"$live/text")
    }
    val checks = ArrayBuffer.empty[Map[String, Any]]
    /** One stream: every batch through the mutating gate, then the
      * read-after-write probes. `predicted` (warm-up only) asks the pure
      * `decide` first, so the admitted count can be checked against it. */
    def stream(p: Int, predicted: Option[ArrayBuffer[Long]]): Unit = {
      reset()
      batches.zipWithIndex.foreach { case (b, i) =>
        predicted.foreach(_ += IngestionGate.decide(spark, cfg, b).count())
        val withText = i % every == every - 1
        rec.op(if (withText) "gate_batch+text_append" else "gate_batch",
          "ops.IngestionGate.gateBatch", p) {
          val fresh = rec.span("ops.IngestionGate.gateBatch")(IngestionGate.gateBatch(spark, cfg, b))
          val n = rec.span("spark.action")(fresh.count())
          if (withText) rec.span("ops.TextIndex.append")(TextIndex.append(spark, s"$live/text", fresh))
          graft.Reliable.release(fresh)
          n
        }(n => s"admitted=$n")
        sampleStorage()
        sampleDisk(live, liveDirs)
      }
      rec.op("probe_dedup", "ops.DedupIndex.queryBatch", p) {
        digest(collect(rec.span("ops.DedupIndex.queryBatch")(DedupIndex.queryBatch(spark, cfg.dedupDir, batches(0)))))
      }(identity)
      rec.op("probe_text", "ops.TextIndex.search", p) {
        val ix = TextIndex.load(spark, s"$live/text")
        digest(collect(rec.span("ops.TextIndex.search")(TextIndex.search(spark, ix, probeTerms, 10))))
      }(identity)
      val acc = IngestionGate.accepted(spark, cfg)
      val raw = spark.read.parquet(cfg.acceptedDir)
      checks += Map("pass" -> p, "accepted_rows" -> raw.count(),
        "accepted_distinct" -> raw.select("doc_id").distinct().count(),
        "accepted_dedup_read" -> acc.count())
    }
    val predicted = ArrayBuffer.empty[Long]
    val (_, warm) = secs(stream(0, Some(predicted)))
    common0("warmup_s") = warm
    timedPasses(p => stream(p, None))
    Map("predicted_admitted" -> predicted.toSeq, "pass_checks" -> checks.toSeq)
  }
}
