package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageCompleted}

/** Dev probe over named registry queries, on the same session (and the
  * same top-k rewrite) Bench runs:
  *
  *   runMain graft.Probe <plan|time|final|jobs> <dataDir> <query...|all> [k=v ...]
  *
  * `all` stands for every registered query name, in sorted order.
  *
  *  - `plan`  — the formatted static physical plan (PLANS.md dumps).
  *  - `time`  — a warm run, then 3 timed runs per query, after one
  *    whole-registry JIT warm-up: separates real work from Bench's
  *    one-shot JIT noise. Trailing `k=v` session confs turn each timed
  *    round into an alternated (base, conf) pair — an A/B in one window.
  *  - `final` — EXECUTES each query, then prints the post-AQE tree
  *    (isFinalPlan=true — the coalesced/skew-split exchanges a static
  *    dump can't show).
  *  - `jobs`  — runs each query twice and traces the SECOND (steady)
  *    run per Spark job: wall-clock, description, stage count, and the
  *    stages of any job over 300 ms, so a multi-second query decomposes
  *    into its actual job list instead of a stage-level guess.
  */
object Probe {

  private final class J(val id: Int, val desc: String, val start: Long, val nStages: Int) {
    @volatile var end: Long = start
    val stages = scala.collection.mutable.ArrayBuffer.empty[String]
    def ms: Long = math.max(0L, end - start)
  }

  def main(args: Array[String]): Unit = {
    val usage = "usage: graft.Probe <plan|time|final|jobs> <dataDir> <query...|all> [k=v ...]"
    require(args.length >= 3 && Set("plan", "time", "final", "jobs")(args(0)), usage)
    val Array(mode, dir) = args.take(2)
    val (confArgs, named) = args.drop(2).toSeq.partition(_.contains("="))
    val names = if (named == Seq("all")) SparkEntry.queries.keys.toSeq.sorted else named
    require(confArgs.isEmpty || mode == "time", s"k=v confs apply to time mode only; $usage")
    val spark = Tune.session()
    plans.TopKRewriteInstall.ensureInstalled(spark)
    def run(n: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(n)(spark, dir).count()
      (System.nanoTime() - t0) / 1e9
    }
    def fmt(xs: Seq[Double]): String = xs.map(x => f"$x%.3f").mkString(" ")
    // JIT warm-up for the timed modes, as Bench does before its loop
    if (mode == "time" || mode == "jobs")
      try SparkEntry.entry(spark).count() catch { case _: Throwable => () }

    mode match {
      case "plan" => names.foreach { n =>
        println(s"\n================ $n ================")
        SparkEntry.queries(n)(spark, dir).explain("formatted")
      }

      case "final" => names.foreach { n =>
        println(s"\n================ $n (post-AQE, $dir) ================")
        val df = SparkEntry.queries(n)(spark, dir)
        // collect() executes THIS QueryExecution (count() would plan a
        // separate aggregate and leave this tree isFinalPlan=false)
        df.collect()
        println(df.queryExecution.executedPlan.toString)
      }

      case "time" =>
        val conf = confArgs.map { kv => val Array(k, v) = kv.split("=", 2); (k, Option(v)) }
        val base = conf.map { case (k, _) => (k, spark.conf.getOption(k)) }
        def set(kvs: Seq[(String, Option[String])]): Unit = kvs.foreach {
          case (k, Some(v)) => spark.conf.set(k, v)
          case (k, None) => spark.conf.unset(k)
        }
        val arms = if (conf.isEmpty) Seq("runs" -> base) else Seq("base" -> base, "conf" -> conf)
        names.foreach { n =>
          val warm = run(n)
          val ts = (1 to 3).flatMap(_ => arms.map { case (arm, kvs) => set(kvs); (arm, run(n)) })
          set(base)
          val series = arms.map { case (arm, _) =>
            val xs = ts.collect { case (`arm`, t) => t }
            f"$arm=[${fmt(xs)}] median ${xs.sorted.apply(1)}%.3f"
          }
          println(f"PROBE $n%-28s warm ${warm}%.3f  ${series.mkString("  ")} s")
        }

      case "jobs" =>
        // jobs are matched by a local property set on the submitting
        // thread, so the trace is exact despite the asynchronous bus
        val sc = spark.sparkContext
        val traced = "graft.probe.traced"
        val drained = new java.util.concurrent.Semaphore(0)
        val jobs = new java.util.concurrent.ConcurrentHashMap[Int, J]()
        val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
        sc.addSparkListener(new SparkListener {
          override def onJobStart(js: SparkListenerJobStart): Unit =
            Option(js.properties).map(_.getProperty(traced)) match {
              case Some("steady") =>
                val desc = Option(js.properties.getProperty("spark.job.description"))
                  .orElse(Option(js.properties.getProperty("callSite.short"))).getOrElse("?")
                js.stageIds.foreach(sid => stageToJob.put(sid, js.jobId))
                jobs.put(js.jobId, new J(js.jobId, desc, js.time, js.stageIds.size))
              case Some("drain") => drained.release()
              case _ => ()
            }
          override def onJobEnd(je: SparkListenerJobEnd): Unit =
            Option(jobs.get(je.jobId)).foreach(_.end = je.time)
          override def onStageCompleted(ev: SparkListenerStageCompleted): Unit = {
            val si = ev.stageInfo
            Option(stageToJob.get(si.stageId)).flatMap(jid => Option(jobs.get(jid)))
              .foreach { j =>
                val ms = (for (a <- si.completionTime; b <- si.submissionTime) yield a - b)
                  .getOrElse(-1L)
                j.stages += s"[${si.stageId}] ${ms}ms tasks=${si.numTasks} ${si.name.take(90)}"
              }
          }
        })
        names.foreach { n =>
          val warm = run(n) // builds any session-shared state
          jobs.clear()
          sc.setLocalProperty(traced, "steady")
          val steady = run(n)
          // the listener bus is FIFO: once this marker job's start is
          // delivered, every event of the traced run has been too
          sc.setLocalProperty(traced, "drain")
          sc.parallelize(Seq(0), 1).count()
          sc.setLocalProperty(traced, null)
          drained.acquire()
          println(f"\n==== $n warm=$warm%.3f steady=$steady%.3f s ====")
          val js = jobs.values.asScala.toSeq.sortBy(_.id)
          println(s"jobs=${js.size} sum(job wall)=${js.map(_.ms).sum} ms")
          js.foreach { j =>
            println(f"  job ${j.id}%4d ${j.ms}%6d ms stages=${j.nStages}%2d  ${j.desc.take(110)}")
            if (j.ms > 300) j.stages.foreach(s => println(s"         $s"))
          }
        }
    }
    spark.stop()
  }
}
