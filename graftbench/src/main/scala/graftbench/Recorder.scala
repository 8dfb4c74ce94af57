package graftbench

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed unit of work the user waits for. Times are epoch micros. */
final case class Op(id: Int, kind: String, group: String, pass: Int,
  startUs: Long, endUs: Long, ok: Boolean, note: String, traced: Boolean)

/** A timed call into one layer, recorded from the benchmark side. */
final case class Span(id: Int, name: String, parent: Int, op: Int,
  startUs: Long, endUs: Long)

/** Records ops always, and — when `enabled` — spans around every layer
  * call, a [[SparkListener]] that charges each Spark job, stage and task
  * to the op that launched it (through the `graftbench.op` local
  * property, which Spark copies onto every job and stage event), and a
  * [[QueryExecutionListener]] that keeps each finished query's driver-side
  * analysis, optimization and planning time. All records stay in memory
  * until [[toJson]] at the end of the run.
  *
  * `tracing` starts off, so set-up and warm-up work is never traced.
  */
final class Recorder(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val epochUs0 = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  def nowUs: Long = epochUs0 + (System.nanoTime() - nano0) / 1000L

  @volatile var tracing: Boolean = false
  private val ops = ArrayBuffer.empty[Op]
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var curOp = -1
  private var nextSpan = 0

  private final class JobRec(val op: Int, val startMs: Long) {
    @volatile var endMs: Long = -1L
  }
  /** Per-op sums of what the listener saw. */
  final class Agg {
    var jobs, stages, tasks = 0L
    var runMs, shuffleWrite, shuffleRead, spill, input, output = 0L
  }
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageOp = new ConcurrentHashMap[Int, Int]()
  private val aggs = new ConcurrentHashMap[Int, Agg]()
  /** (first phase start ms, summed phase ms) per finished query. */
  private val plans = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
  private val drained = new CountDownLatch(1)
  private val DrainOp = -2

  private def opOf(p: java.util.Properties): Int =
    Option(p).flatMap(x => Option(x.getProperty(Recorder.OpKey)))
      .map(_.toInt).getOrElse(-1)
  private def agg(op: Int): Agg = aggs.computeIfAbsent(op, _ => new Agg)

  if (enabled) sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val op = opOf(e.properties)
      if (op >= 0) { jobs.put(e.jobId, new JobRec(op, e.time)); agg(op).jobs += 1 }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val op = opOf(e.properties)
      if (op == DrainOp) drained.countDown()
      else if (op >= 0) { stageOp.put(e.stageInfo.stageId, op); agg(op).stages += 1 }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val op = stageOp.getOrDefault(e.stageId, -1)
      if (op >= 0) {
        val a = agg(op)
        a.tasks += 1
        val m = e.taskMetrics
        if (m != null) {
          a.runMs += m.executorRunTime
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          a.input += m.inputMetrics.bytesRead
          a.output += m.outputMetrics.bytesWritten
        }
      }
    }
  })

  if (enabled) spark.listenerManager.register(new QueryExecutionListener {
    private def keep(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases.values
      if (ph.nonEmpty) plans.add((ph.map(_.startTimeMs).min, ph.map(_.durationMs).sum))
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = keep(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = keep(qe)
  })

  /** Time `work` as one op. `summary` digests its output after the clock
    * stops (run.py checks the digests); a throw marks the op failed. */
  def op[A](kind: String, group: String, pass: Int)(work: => A)(
      summary: A => String): Unit = {
    val id = ops.size
    curOp = id
    val traced = tracing
    if (traced) sc.setLocalProperty(Recorder.OpKey, id.toString)
    val t0 = nowUs
    val res = try Right(span(s"op:$kind")(work)) catch {
      case scala.util.control.NonFatal(e) => Left(e)
    }
    val t1 = nowUs
    sc.setLocalProperty(Recorder.OpKey, null)
    curOp = -1
    val (ok, note) = res match {
      case Right(v) => (true, summary(v))
      case Left(e) => (false, e.toString.take(300))
    }
    ops += Op(id, kind, group, pass, t0, t1, ok, note, traced)
    if (!ok) System.err.println(s"[graftbench] op $id $kind failed: $note")
  }

  /** Record `body` as a span under the innermost open span. */
  def span[A](name: String)(body: => A): A =
    if (!tracing) body else {
      val id = nextSpan
      nextSpan += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = nowUs
      try body finally {
        stack = stack.tail
        spans += Span(id, name, parent, curOp, t0, nowUs)
      }
    }

  /** Wait until the listener has seen every event posted so far: a marker
    * job's stage is queued behind them on the same listener bus. */
  def drain(): Unit = if (enabled) {
    sc.setLocalProperty(Recorder.OpKey, DrainOp.toString)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(Recorder.OpKey, null)
    drained.await(60, TimeUnit.SECONDS)
    // query listeners run on their own bus queue: wait until it is quiet
    var n = -1
    while (n != plans.size) { n = plans.size; Thread.sleep(300) }
  }

  def opCount: Int = ops.size

  def toJson: Map[String, Any] = {
    val js = jobs.values.asScala.toSeq
    Map(
      "ops" -> ops.map(o => Map("id" -> o.id, "kind" -> o.kind,
        "group" -> o.group, "pass" -> o.pass, "start_us" -> o.startUs,
        "end_us" -> o.endUs, "ok" -> o.ok, "note" -> o.note,
        "traced" -> o.traced)).toSeq,
      "spans" -> spans.sortBy(_.id).map(s => Map("id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "op" -> s.op, "start_us" -> s.startUs,
        "end_us" -> s.endUs)).toSeq,
      "jobs" -> js.map(j => Map("op" -> j.op, "start_ms" -> j.startMs,
        "end_ms" -> j.endMs)),
      "plans" -> plans.asScala.toSeq.map { case (t, ms) => Map("start_ms" -> t, "plan_ms" -> ms) },
      "op_spark" -> aggs.asScala.toSeq.sortBy(_._1).map { case (op, a) =>
        Map("op" -> op, "jobs" -> a.jobs, "stages" -> a.stages,
          "tasks" -> a.tasks, "exec_run_ms" -> a.runMs,
          "shuffle_write_bytes" -> a.shuffleWrite,
          "shuffle_read_bytes" -> a.shuffleRead, "spill_bytes" -> a.spill,
          "input_bytes" -> a.input, "output_bytes" -> a.output)
      })
  }
}

object Recorder {
  val OpKey = "graftbench.op"

  /** Executor storage after an op: (persistent RDDs, block-manager bytes
    * in use). Driver-side calls only — no Spark job. */
  def storage(spark: SparkSession): (Int, Long) = {
    val sc = spark.sparkContext
    (sc.getPersistentRDDs.size,
      sc.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum)
  }

  /** Regular files and bytes under `dir` (0, 0 when it does not exist). */
  def onDisk(dir: String): (Long, Long) = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) (0L, 0L) else {
      val walk = java.nio.file.Files.walk(root)
      try {
        var n, b = 0L
        walk.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
          .foreach { p => n += 1; b += java.nio.file.Files.size(p) }
        (n, b)
      } finally walk.close()
    }
  }
}
