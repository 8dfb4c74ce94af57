package graft

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}

/** Lineage truncation for ITERATIVE operators (connected components,
  * PageRank, BPE training), with a resilience escape hatch.
  *
  * `localCheckpoint(true)` stores blocks on executors — fast, but
  * non-resilient: on a real cluster a lost executor loses blocks that
  * have no lineage left to recompute, killing the job. Long iterative
  * jobs are exactly where executor loss happens, so these operators
  * honor `spark.graft.checkpointDir`: when the conf is set, batches
  * write RELIABLE `checkpoint()`s to that (HDFS/S3) directory instead,
  * and a lost executor re-reads from storage. Unset (the default, and
  * every test/bench path), behavior is unchanged executor-local blocks.
  *
  * The SparkContext checkpoint dir is initialized lazily from the conf
  * on first use; an explicit `sc.setCheckpointDir` made by the caller
  * beforehand wins. (Session-lifetime caches — [[Shared]] — stay
  * executor-local on purpose: they are rebuildable per session, and
  * reliable checkpoint files are not reclaimed until application end.)
  *
  * It is also the one owner of a call's intermediate checkpoints:
  * [[owned]] registers them with the innermost [[scoped]] block, which
  * [[release]]s them when the block exits. [[ownedObserving]] is its
  * companion for a call that also needs a small summary of the frame
  * (the partition ids a later read prunes to): the summary is observed
  * in the checkpoint's own job, so it costs no second job.
  */
object Reliable {

  val ConfKey = "spark.graft.checkpointDir"

  /** Debug conf (round 17 — the release contract's misuse guard): when
    * `true`, [[release]] records each released leaf RDD id with the
    * graft-side call site that released it, and [[diagnose]] /
    * [[withDiagnosis]] can turn the otherwise-opaque task failure a
    * stale lazy reader hits ("Checkpoint block rdd_N_M not found" deep
    * inside a job) into a NAMED error that says which release broke it
    * and where. Default (unset) behavior is byte-identical: no
    * recording, no wrapping.
    */
  val DebugKey = "spark.graft.debugReleases"

  // Keyed by (applicationId, rddId) — RDD ids restart per SparkContext,
  // so in a JVM cycling sessions a recycled id must not mis-attribute an
  // unrelated block failure to an old application's release (round 18,
  // the r17 advice). Debug-only registry; bounded by the releases one
  // debugging session performs.
  private val releasedAt =
    new java.util.concurrent.ConcurrentHashMap[(String, Int), String]()

  /** A lazy frame read blocks that [[release]] had already dropped —
    * carries the release site so the fix (materialize before releasing,
    * or release later) is one stack frame away instead of a hunt
    * through executor logs.
    */
  final class ReleasedBlockReadException(msg: String, cause: Throwable)
    extends RuntimeException(msg, cause)

  /** Release the blocks behind a checkpointed frame whose content is no
    * longer reachable through any live consumer — the staging relief
    * for multi-step builds whose intermediates otherwise stay resident
    * until session end (the 100× labels-build memory knee). Idempotent;
    * a no-op on non-checkpoint plans and on reliable-checkpoint files
    * (those are reclaimed at application end). The caller owns the
    * safety argument: any LAZY frame still reading the released blocks
    * fails on its next action — under [[DebugKey]] that failure is
    * diagnosable by name ([[withDiagnosis]]).
    */
  def release(df: DataFrame): Unit = {
    val debug = df.sparkSession.conf.getOption(DebugKey).contains("true")
    df.queryExecution.analyzed.collectLeaves().foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        if (debug) {
          val site = Thread.currentThread.getStackTrace
            .find(e => e.getClassName.startsWith("graft.") &&
              e.getClassName != "graft.Reliable$" &&
              e.getClassName != "graft.Reliable")
            .map(e => s"${e.getClassName}.${e.getMethodName}(${e.getFileName}:${e.getLineNumber})")
            .getOrElse("<unknown site>")
          releasedAt.put(
            (df.sparkSession.sparkContext.applicationId, lr.rdd.id), site)
        }
        lr.rdd.unpersist(blocking = true)
      case _ => ()
    }
  }

  /** If `t`'s failure chain names a block of an RDD that [[release]]
    * dropped under [[DebugKey]], return the diagnosis; None otherwise
    * (including always when debug was never enabled — the registry is
    * only populated under the conf).
    */
  def diagnose(t: Throwable): Option[String] = {
    // the failure being diagnosed belongs to the CURRENT application —
    // look up under its id only, so a recycled rdd id from a previous
    // SparkContext in this JVM cannot match
    val appId = org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .map(_.sparkContext.applicationId)
    val rddId = """rdd_(\d+)_\d+""".r
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(16)
      .flatMap(e => rddId.findAllMatchIn(Option(e.getMessage).getOrElse("")))
      .map(_.group(1).toInt)
      .collectFirst(Function.unlift { (id: Int) =>
        // primary: the current application's id. Fallback (round-18
        // advice): on a thread with no resolvable session (the JVM-
        // cycling-sessions scenario the keying targets) match the rdd id
        // across ALL registered applications, naming the app in the
        // message — debug-only path, a looser match beats silently
        // dropping the diagnosis.
        val hit: Option[(String, String)] =
          appId.filter(a => releasedAt.containsKey((a, id)))
            .map(a => (a, releasedAt.get((a, id))))
            .orElse {
              if (appId.isDefined) None
              else {
                val it = releasedAt.entrySet().iterator()
                var found: Option[(String, String)] = None
                while (found.isEmpty && it.hasNext) {
                  val e = it.next()
                  if (e.getKey._2 == id) found = Some((e.getKey._1, e.getValue))
                }
                found
              }
            }
        hit.map { case (app, site) =>
          s"read of released checkpoint blocks: rdd_$id (app $app) was " +
            s"released at $site while a lazy frame still read it — " +
            "materialize that frame (localCheckpoint/write) before the " +
            "release, or move the release after its last action"
        }
      })
  }

  /** Run `body`; if it fails on blocks a debug-mode [[release]] dropped,
    * rethrow as the named [[ReleasedBlockReadException]] carrying the
    * release site. Pass-through (original exception, no wrapping) when
    * the failure is anything else or debug mode is off.
    */
  def withDiagnosis[T](body: => T): T =
    try body catch {
      case scala.util.control.NonFatal(e) =>
        diagnose(e) match {
          case Some(msg) => throw new ReleasedBlockReadException(msg, e)
          case None => throw e
        }
    }

  // The frames one scope owns. Branches of [[Jobs.concurrently]] add to
  // their caller's scope from their own threads, so adds are concurrent.
  private type Frames = java.util.concurrent.ConcurrentLinkedQueue[DataFrame]

  // The scopes open on the current thread, innermost first. A plain
  // ThreadLocal, not a DynamicVariable: an inheritable value would leak
  // into pool threads created inside a scope, whose frames would then
  // register with a scope that closes without waiting for them. The one
  // hand-off is [[Jobs.concurrently]], which blocks until its branches end.
  private val scopes = new ThreadLocal[List[Frames]] {
    override def initialValue(): List[Frames] = Nil
  }

  /** The scopes open on this thread, for [[inScopes]] on another thread. */
  private[graft] def openScopes: List[Frames] = scopes.get

  /** Run `body` with `open` (another thread's [[openScopes]]) as this
    * thread's open scopes: what `body` [[owned]]s registers with that
    * thread's innermost scope. The other thread must not close the scope
    * before `body` returns.
    */
  private[graft] def inScopes[A](open: List[Frames])(body: => A): A = {
    val prev = scopes.get
    scopes.set(open)
    try body finally scopes.set(prev)
  }

  /** A call's intermediate: `df.localCheckpoint(true)`, owned by the
    * innermost [[scoped]] block open on this thread, which releases it
    * when the block exits. With no scope open the blocks live for the
    * session, as a plain `localCheckpoint` does. The checkpoint's RDD
    * (and its job) carry the caller's call site, not this file's.
    */
  def owned(df: DataFrame): DataFrame =
    adopt(atCallerSite(df.sparkSession)(df.localCheckpoint(true)))

  /** [[owned]], plus `metrics` (aggregate columns, as for
    * `Dataset.observe`) evaluated over `df`'s rows in the checkpoint's
    * own eager job — no second job over the frame the call has just
    * materialized. Returns the checkpoint and the one observed row, in
    * `metrics` order. An empty frame observes the aggregates' empty
    * values (an empty `collect_set`, a null `max`). The row is read off
    * the checkpointed plan's own metrics as soon as the checkpoint
    * returns, not through an `Observation`, whose `future` completes
    * only when the listener bus delivers the query's end event
    * (`Observation.getRow` is not public either).
    */
  def ownedObserving(df: DataFrame, metric: Column, metrics: Column*): (DataFrame, Row) = {
    val name = s"graft.observed#${observations.incrementAndGet()}"
    val observed = df.observe(name, metric, metrics: _*)
    val ck = owned(observed)
    (ck, observed.queryExecution.observedMetrics(name))
  }

  // observation names must be unique within one plan
  private val observations = new java.util.concurrent.atomic.AtomicLong()

  /** Run `body` with the SparkContext call site set to the first stack
    * frame outside this object and the pass-through helpers that own on
    * their caller's behalf ([[Spread.materialized]]), then restore the
    * previous call site.
    */
  private def atCallerSite[A](s: SparkSession)(body: => A): A = {
    val sc = s.sparkContext
    def here(e: StackTraceElement) =
      Seq("graft.Reliable", "graft.Spread").contains(e.getClassName.stripSuffix("$"))
    val caller = Thread.currentThread.getStackTrace.dropWhile(!here(_)).dropWhile(here)
    if (caller.isEmpty) body
    else {
      val keys = Seq("callSite.short", "callSite.long")
      val prev = keys.map(sc.getLocalProperty)
      sc.setLocalProperty(keys(0),
        s"localCheckpoint at ${caller.head.getFileName}:${caller.head.getLineNumber}")
      sc.setLocalProperty(keys(1), caller.mkString("\n"))
      try body
      finally keys.zip(prev).foreach { case (k, v) => sc.setLocalProperty(k, v) }
    }
  }

  /** Register an already-checkpointed frame with the innermost open
    * scope (for a [[checkpoint]] that must stay reliable under
    * [[ConfKey]]); returns it unchanged.
    */
  private[graft] def adopt(checkpointed: DataFrame): DataFrame = {
    scopes.get.headOption.foreach(_.add(checkpointed))
    checkpointed
  }

  /** Run `body`, then [[release]] every frame [[owned]] inside it on
    * this thread or on a [[Jobs.concurrently]] branch it forked, whether
    * `body` returns or throws. A nested scope releases only its own
    * frames. `body`'s result must not read an owned frame lazily: return
    * `Unit`, a frame over written files, a driver-local frame, or a
    * checkpoint the caller owns.
    */
  def scoped[A](body: => A): A = {
    val frames = new Frames
    scopes.set(frames :: scopes.get)
    try body
    finally {
      scopes.set(scopes.get.tail)
      frames.forEach(release)
    }
  }

  /** Truncate `df`'s lineage eagerly: reliably when [[ConfKey]] is set,
    * executor-locally otherwise.
    */
  def checkpoint(df: DataFrame): DataFrame = {
    val s = df.sparkSession
    s.conf.getOption(ConfKey).filter(_.nonEmpty) match {
      case Some(dir) =>
        if (s.sparkContext.getCheckpointDir.isEmpty)
          s.sparkContext.setCheckpointDir(dir)
        // persist first: RDD.checkpoint's write job otherwise RECOMPUTES
        // the whole lineage after the eager count (the standard
        // checkpoint caveat) — every iterative batch would run twice.
        // The cache is dropped as soon as the checkpoint files exist.
        val persisted = df.persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val out = persisted.checkpoint(true)
        persisted.unpersist()
        out
      case None =>
        df.localCheckpoint(true)
    }
  }
}
