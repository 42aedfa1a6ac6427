package graftbench

import java.util.Properties
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed operation of a workload: a query or a gate trigger. `layer`
  * is the graft module whose public entry point it calls; `sec` is its
  * wall time, `cpuSec` the CPU time the whole JVM spent meanwhile, and
  * `startMs`/`endMs` its interval for attribution.
  */
final case class Op(id: String, name: String, layer: String, startMs: Long,
    endMs: Long, sec: Double, cpuSec: Double, ok: Boolean)

/** What the listeners saw, attributed to operations afterwards. Every
  * listener only appends raw events; attribution and aggregation run
  * once the session has stopped (stopping drains the listener bus).
  */
final class Trace {
  final case class Job(id: Int, op: Option[String], startMs: Long,
      var endMs: Long, stages: Seq[Int])
  final case class Stage(id: Int, attempt: Int, name: String, startMs: Long,
      endMs: Long)
  final case class Task(stage: Int, launchMs: Long, finishMs: Long,
      ok: Boolean, cpuNs: Long, gcMs: Long, shuffleW: Long, spill: Long,
      fetchWaitMs: Long, written: Long)
  final case class Plan(func: String, startMs: Long, endMs: Long,
      planMs: Long)
  final case class Progress(batch: Long, addBatchMs: Long)

  val jobs = new ConcurrentLinkedQueue[Job]
  val stages = new ConcurrentLinkedQueue[Stage]
  val tasks = new ConcurrentLinkedQueue[Task]
  val plans = new ConcurrentLinkedQueue[Plan]
  val progress = new ConcurrentLinkedQueue[Progress]
  /** Time spent inside the listeners: the tracing's own cost. */
  val busyNs = new AtomicLong

  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    busyNs.addAndGet(System.nanoTime() - t0)
  }

  private def opOf(p: Properties): Option[String] =
    Option(p).flatMap(x => Option(x.getProperty(Trace.OpProperty)))

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      jobs.add(Job(e.jobId, opOf(e.properties), e.time, -1L, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
      jobs.asScala.find(_.id == e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      timed {
        val i = e.stageInfo
        stages.add(Stage(i.stageId, i.attemptNumber(), i.name,
          i.submissionTime.getOrElse(-1L), i.completionTime.getOrElse(-1L)))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      val m = Option(e.taskMetrics)
      def g(f: org.apache.spark.executor.TaskMetrics => Long): Long =
        m.map(f).getOrElse(0L)
      tasks.add(Task(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime,
        e.reason == org.apache.spark.Success, g(_.executorCpuTime),
        g(_.jvmGCTime), g(_.shuffleWriteMetrics.bytesWritten),
        g(_.diskBytesSpilled), g(_.shuffleReadMetrics.fetchWaitTime),
        g(_.outputMetrics.bytesWritten)))
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    private def record(func: String, qe: QueryExecution): Unit = timed {
      val ph = qe.tracker.phases.filter { case (k, _) =>
        k == "analysis" || k == "optimization" || k == "planning" }
      if (ph.nonEmpty)
        plans.add(Plan(func, ph.values.map(_.startTimeMs).min,
          ph.values.map(_.endTimeMs).max, ph.values.map(_.durationMs).sum))
    }
    override def onSuccess(func: String, qe: QueryExecution, ns: Long): Unit =
      record(func, qe)
    override def onFailure(func: String, qe: QueryExecution,
        e: Exception): Unit = record(func, qe)
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(
        e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = timed {
      val ms = Option(e.progress.durationMs.get("addBatch"))
        .map(_.longValue).getOrElse(0L)
      progress.add(Progress(e.progress.batchId, ms))
    }
  }

  def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }
}

object Trace {
  /** Local property carrying the operation id; set on the benchmark's own
    * thread, so every job that thread submits inherits it.
    */
  val OpProperty = "graftbench.op"

  /** Milliseconds of [t0, t1) covered by at least one of `iv`. */
  def covered(iv: Seq[(Long, Long)], t0: Long, t1: Long): Long = {
    val clipped = iv.map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = 0L
    var curB = 0L
    clipped.foreach { case (a, b) =>
      if (a > curB) { total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    total + (curB - curA)
  }

  /** Per-operation cost, read from the trace of its jobs, tasks and plans. */
  final case class OpCost(jobs: Int, planS: Double, driverS: Double,
      taskRunS: Double, taskCpuS: Double, gcS: Double, shuffleMb: Double,
      spillMb: Double, fetchWaitS: Double, writtenMb: Double,
      tasksFailed: Int)

  private def inOp(ops: Seq[Op], ms: Long): Option[Op] =
    ops.find(o => ms >= o.startMs && ms <= o.endMs)

  /** The operation each job belongs to: by the operation-id property when
    * the job carries one, else by the interval its submission falls in
    * (the streaming gate's trigger thread is not the benchmark's thread).
    */
  private def jobOps(t: Trace, ops: Seq[Op]): Seq[(t.Job, Op)] = {
    val byId = ops.map(o => o.id -> o).toMap
    t.jobs.asScala.toSeq.flatMap { j =>
      j.op.flatMap(byId.get).orElse(inOp(ops, j.startMs)).map(j -> _)
    }
  }

  /** Attribute jobs, their stages' tasks, and plans (by interval) to
    * operations and sum them per operation.
    */
  def costs(t: Trace, ops: Seq[Op]): Map[String, OpCost] = {
    val jobOp = jobOps(t, ops)
    val stageOp: Map[Int, Op] =
      jobOp.flatMap { case (j, o) => j.stages.map(_ -> o) }.toMap
    val tasksByOp = t.tasks.asScala.toSeq
      .flatMap(k => stageOp.get(k.stage).map(_.id -> k))
      .groupMap(_._1)(_._2)
    val plansByOp = t.plans.asScala.toSeq
      .flatMap(p => inOp(ops, p.startMs).map(_.id -> p))
      .groupMap(_._1)(_._2)
    val jobsByOp = jobOp.groupBy(_._2.id).map { case (k, v) => k -> v.size }
    ops.map { o =>
      val ts = tasksByOp.getOrElse(o.id, Nil)
      val busy = covered(ts.map(k => (k.launchMs, k.finishMs)), o.startMs,
        o.endMs)
      o.id -> OpCost(
        jobs = jobsByOp.getOrElse(o.id, 0),
        planS = plansByOp.getOrElse(o.id, Nil).map(_.planMs).sum / 1e3,
        driverS = (o.endMs - o.startMs - busy) / 1e3,
        taskRunS = ts.map(k => k.finishMs - k.launchMs).sum / 1e3,
        taskCpuS = ts.map(_.cpuNs).sum / 1e9,
        gcS = ts.map(_.gcMs).sum / 1e3,
        shuffleMb = ts.map(_.shuffleW).sum / 1e6,
        spillMb = ts.map(_.spill).sum / 1e6,
        fetchWaitS = ts.map(_.fetchWaitMs).sum / 1e3,
        writtenMb = ts.map(_.written).sum / 1e6,
        tasksFailed = ts.count(!_.ok))
    }.toMap
  }

  private def q(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** Write the run's spans as JSON lines: workload → operation → job →
    * stage, plus one planning span per planned action. Spans of one
    * operation share its id in `op`. Returns the number of spans.
    */
  def writeSpans(t: Trace, workload: String, ops: Seq[Op],
      window: (Long, Long), path: String): Int = {
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    def span(id: String, parent: String, kind: String, name: String,
        start: Long, end: Long, op: String): Unit =
      lines += s"""{"id":${q(id)},"parent":${q(parent)},"kind":${q(kind)},""" +
        s""""name":${q(name)},"start_ms":$start,"end_ms":$end,"op":${q(op)}}"""
    span("w", "", "workload", workload, window._1, window._2, "")
    ops.foreach(o => span(o.id, "w", "op", o.name, o.startMs, o.endMs, o.id))
    val stageParent = scala.collection.mutable.Map.empty[Int, (String, String)]
    jobOps(t, ops).foreach { case (j, o) =>
      val jid = s"job${j.id}"
      span(jid, o.id, "job", jid, j.startMs, j.endMs, o.id)
      j.stages.foreach(s => stageParent.getOrElseUpdate(s, (jid, o.id)))
    }
    t.stages.asScala.foreach { s =>
      stageParent.get(s.id).foreach { case (jid, op) =>
        span(s"stage${s.id}.${s.attempt}", jid, "stage", s.name, s.startMs,
          s.endMs, op)
      }
    }
    t.plans.asScala.zipWithIndex.foreach { case (p, i) =>
      inOp(ops, p.startMs).foreach(o =>
        span(s"plan$i", o.id, "plan", p.func, p.startMs, p.endMs, o.id))
    }
    val w = new java.io.PrintWriter(path, "UTF-8")
    try lines.foreach(w.println) finally w.close()
    lines.size
  }
}
