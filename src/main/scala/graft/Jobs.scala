package graft

import org.apache.spark.sql.SparkSession

/** How a call launches its Spark jobs.
  *
  * [[labeled]] (guide §1.5): wrap an operator phase so every Spark job
  * it launches carries a readable description in the UI / listeners —
  * the round-19 profiling showed a 60-job serve path is unattributable
  * without them. Descriptions are thread-local; the previous value is
  * restored so labels nest and never leak into caller jobs.
  *
  * [[concurrently]]: run a call's independent phases at once. On a small
  * input an index build is a chain of small jobs whose driver gaps
  * dominate, so two chains that share no output (a coarse quantizer and
  * a PQ codebook; a postings and a positions table) finish sooner side
  * by side than one after the other. It is the engine's one concurrency
  * mechanism: never fork with a raw `Future` on a shared pool, which
  * drops the caller's session, local properties and checkpoint scope.
  */
object Jobs {
  def labeled[A](s: SparkSession, label: String)(body: => A): A = {
    val sc = s.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(label)
    try body
    finally sc.setJobDescription(prev)
  }

  /** Run `branches` at once, one new thread each, and return their
    * results in argument order after every branch has ended. Each branch
    * keeps the caller's active session and SparkContext local properties
    * (its [[labeled]] description, scheduler pool and any caller-set
    * property, through Spark's own hand-off), and a frame it
    * [[Reliable.owned]]s belongs to the caller's innermost
    * [[Reliable.scoped]] block, which cannot close before this returns.
    * If branches throw, the others still run to their end, then the
    * first failing branch's error (in argument order) is rethrown with
    * the later ones suppressed. Threads are never pooled across calls, so
    * a branch may itself call `concurrently` without risk of deadlock;
    * the thread count is the product of the literal branch counts.
    *
    * Branches must be independent: no branch reads what another writes,
    * and two branches never build the same [[Shared]] key (materialize a
    * shared input before forking).
    */
  def concurrently[A](s: SparkSession)(branches: (() => A)*): Seq[A] =
    if (branches.size < 2) branches.map(_())
    else {
      val scopes = Reliable.openScopes
      val pool = java.util.concurrent.Executors.newFixedThreadPool(branches.size, { r =>
        val t = new Thread(r, "graft-concurrently")
        t.setDaemon(true)
        t
      })
      try {
        // Spark's own hand-off, as for its broadcast and subquery
        // threads: active session, a copy of the local properties, and
        // the job artifact state
        val running = branches.map(b =>
          org.apache.spark.sql.execution.SQLExecution.withThreadLocalCaptured(
            s.asInstanceOf[org.apache.spark.sql.classic.SparkSession], pool)(
            Reliable.inScopes(scopes)(b())))
        val ended = running.map { f =>
          try Right(f.get())
          catch { case e: java.util.concurrent.ExecutionException => Left(e.getCause) }
        }
        ended.collect { case Left(e) => e } match {
          case first +: rest =>
            rest.foreach(first.addSuppressed)
            throw first
          case _ => ended.collect { case Right(a) => a }
        }
      } finally {
        pool.shutdown()
        pool.awaitTermination(Long.MaxValue, java.util.concurrent.TimeUnit.NANOSECONDS)
      }
    }
}
