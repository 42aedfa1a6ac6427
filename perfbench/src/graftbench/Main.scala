package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

final case class Args(workload: String, seed: Long, seconds: Double,
    trace: Boolean, cores: Int, work: String, out: String, expected: String)

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => sys.error(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def get(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(get("workload"), get("seed").toLong, get("seconds").toDouble,
      get("trace") == "1", get("cores").toInt, get("work"), get("out"),
      get("expected"))
  }
}

/** Runs one workload and owns everything the workloads share: the
  * session, the operation log, tracing and the failure count.
  */
final class Harness(val args: Args) {
  var spark: SparkSession = _
  val ops = ArrayBuffer.empty[Op]
  val trace: Option[Trace] = if (args.trace) Some(new Trace) else None
  /** Operations whose output check failed, by op id. */
  val checkFailed = scala.collection.mutable.Set.empty[String]
  val notes = ArrayBuffer.empty[String]

  def newSession(): SparkSession = {
    if (spark != null) {
      spark.streams.active.foreach(_.stop())
      spark.stop()
    }
    spark = graft.GraftSession.local(args.cores)
    spark
  }

  /** Run `body`, logging its wall time to stderr (the run's log). */
  def phase[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    System.err.println(f"[graftbench] $name: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    r
  }

  /** Whether the closed loop starts another unit of work: one that takes
    * as long as the last would end by the deadline.
    */
  def another(deadlineNs: Long, lastSec: Double): Boolean =
    System.nanoTime() + (lastSec * 1e9).toLong <= deadlineNs

  /** Time one operation. A thrown exception fails the operation, not the
    * run. Jobs the calling thread submits carry the operation's id.
    */
  def op[T](name: String, layer: String)(body: => T): Option[T] = {
    val id = s"op${ops.size}"
    val sc = spark.sparkContext
    sc.setLocalProperty(Trace.OpProperty, id)
    val ms0 = System.currentTimeMillis()
    val cpu0 = Harness.cpuNs()
    val t0 = System.nanoTime()
    val r = try Some(body) catch {
      case e: Exception =>
        System.err.println(s"[graftbench] $name failed: $e")
        None
    }
    val sec = (System.nanoTime() - t0) / 1e9
    val cpuSec = (Harness.cpuNs() - cpu0) / 1e9
    val ms1 = System.currentTimeMillis()
    sc.setLocalProperty(Trace.OpProperty, null)
    ops += Op(id, name, layer, ms0, ms1, sec, cpuSec, r.isDefined)
    r
  }

  def good: Seq[Op] = ops.toSeq.filter(o => o.ok && !checkFailed(o.id))
  def attempted: Int = ops.size
  def failed: Int = ops.size - good.size
}

object Harness {
  private val os = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time the JVM has used so far, all threads. */
  def cpuNs(): Long = os.getProcessCpuTime
}

trait Workload {
  /** Generate the run's inputs from its seed; first set-up only. */
  def generate(h: Harness): Unit
  /** Load the generated inputs into `h.spark`; every set-up repetition,
    * each in a fresh session.
    */
  def load(h: Harness): Unit
  /** Untimed operations after the last repetition, so caches fill and
    * lazy set-up finishes before timing. A failure here fails the run.
    */
  def warmUp(h: Harness): Unit
  /** Closed loop, one client: whole units of work (a suite pass, a fold
    * cycle of triggers) while the next is predicted to end by
    * `deadlineNs`, at least one.
    */
  def measure(h: Harness, deadlineNs: Long): Unit
  /** Output checks, outside the timed region; marks failed operations. */
  def check(h: Harness): Unit
  /** Wall time of each unit of work the closed loop ran. */
  def unitSecs: Seq[Double]
  /** Per-layer metrics only this workload can read; keys from
    * `Gate.layerKeys`.
    */
  def layerMetrics(h: Harness): Map[String, Double]
}

object Main {
  val SetupReps = 3

  /** Every graft module with a public entry point the workloads call. */
  val Layers: Seq[String] = Seq("Relational", "DocumentPipeline", "Events",
    "Analytics", "Dedup", "Similarity", "Graph", "Multimodal",
    "InvertedIndex", "Redact", "StreamingOps")

  def median(xs: collection.Seq[Double]): Double = quantile(xs, 0.5)

  def geomean(xs: collection.Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(math.log).sum / xs.size)

  /** Linear-interpolated quantile, as numpy's default; 0 when empty. */
  def quantile(xs: collection.Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val r = p * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  /** Single-thread CPU busy loop: the box's CPU regime during this run. */
  def cpuProbeSec(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 200000000) {
      x = x * 6364136223846793005L + 1442695040888963407L
      x ^= (x >>> 33)
      i += 1
    }
    if (x == 42L) System.err.println("[graftbench] improbable")
    (System.nanoTime() - t0) / 1e9
  }

  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(sys.error("no VmHWM in /proc/self/status"))
    finally src.close()
  }

  def workload(name: String): Workload = name match {
    case "suite" => new Suite
    case "gate" => new Gate
    case other => sys.error(s"unknown workload: $other")
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) sys.error(s"non-finite metric $v")
    else java.lang.Double.toString(v)

  private def str(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  def unitOf(metric: String): String = metric match {
    case "gate.store_bytes_per_input_byte" => "B/B"
    case m if m.endsWith("_s") => "s"
    case m if m.endsWith("_mb") => "MB"
    case m if m.endsWith("_frac") || m.endsWith("_util") => "frac"
    case _ => "count"
  }

  /** Per-layer metrics of a traced run; every key on every workload, 0
    * where the workload does not reach the layer.
    */
  private def perLayer(h: Harness, w: Workload, t: Trace,
      rssMb: Double): Seq[(String, Double)] = {
    val ok = h.good
    val cost = Trace.costs(t, h.ops.toSeq)
    def mean(os: Seq[Op], f: Trace.OpCost => Double): Double =
      if (os.isEmpty) 0.0 else os.map(o => f(cost(o.id))).sum / os.size
    val modules = Layers.flatMap { m =>
      val os = ok.filter(_.layer == m)
      Seq(s"$m.wall_s" -> (if (os.isEmpty) 0.0 else os.map(_.sec).sum / os.size),
        s"$m.plan_s" -> mean(os, _.planS),
        s"$m.task_cpu_s" -> mean(os, _.taskCpuS),
        s"$m.shuffle_mb" -> mean(os, _.shuffleMb))
    }
    val wall = ok.map(_.sec).sum
    val layer = w.layerMetrics(h)
    modules ++ Seq(
      "plan_s" -> mean(ok, _.planS),
      "driver_s" -> mean(ok, _.driverS),
      "slot_util" -> (if (wall == 0) 0.0
        else ok.map(o => cost(o.id).taskRunS).sum / (h.args.cores * wall)),
      "task_cpu_s" -> mean(ok, _.taskCpuS),
      "gc_s" -> mean(ok, _.gcS),
      "shuffle_mb" -> mean(ok, _.shuffleMb),
      "spill_mb" -> mean(ok, _.spillMb),
      "fetch_wait_s" -> mean(ok, _.fetchWaitS),
      "jobs" -> mean(ok, _.jobs.toDouble),
      "bytes_written_mb" -> mean(ok, _.writtenMb),
      "tasks_failed" -> ok.map(o => cost(o.id).tasksFailed).sum.toDouble,
      "op_p50_s" -> median(ok.map(_.sec)),
      "op_p90_s" -> quantile(ok.map(_.sec), 0.9),
      "pass_cpu_s" -> ok.map(_.cpuSec).sum / math.max(w.unitSecs.size, 1),
      "peak_rss_mb" -> rssMb,
      "cpu_probe_s" -> cpuProbeSec()) ++
      Gate.layerKeys.map(k => k -> layer.getOrElse(k, 0.0))
  }

  def main(argv: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val args = Args.parse(argv)
    val h = new Harness(args)
    val w = workload(args.workload)

    // Set-up: session start and input load, repeated in a fresh session;
    // the first repetition also pays for starting the JVM and generating
    // the inputs. Then one warm-up.
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getStartTime
    val setupReps = (1 to SetupReps).map { rep =>
      val t0 = System.nanoTime()
      h.phase("session")(h.newSession())
      if (rep == 1) h.phase("generate")(w.generate(h))
      h.phase("load")(w.load(h))
      if (rep == 1) (System.currentTimeMillis() - jvmStart) / 1e3
      else (System.nanoTime() - t0) / 1e9
    }
    val spark = h.spark
    // before the warm-up: a streaming query's session is cloned when it
    // starts, listeners included
    h.trace.foreach(_.install(spark))
    val warmS = {
      val t0 = System.nanoTime()
      h.phase("warm-up")(w.warmUp(h))
      (System.nanoTime() - t0) / 1e9
    }
    val conf = Seq("spark.sql.shuffle.partitions",
      "spark.shuffle.sort.bypassMergeThreshold", "spark.sql.adaptive.enabled",
      "spark.sql.join.preferSortMergeJoin").map { k =>
      k -> spark.conf.getOption(k).getOrElse(
        spark.sparkContext.getConf.get(k, "<default>"))
    }

    val busy0 = h.trace.map(_.busyNs.get).getOrElse(0L)
    val windowStart = System.currentTimeMillis()
    h.phase("measure")(w.measure(h,
      System.nanoTime() + (args.seconds * 1e9).toLong))
    val window = (windowStart, System.currentTimeMillis())
    val busyNs = h.trace.map(_.busyNs.get - busy0).getOrElse(0L)
    h.phase("check")(w.check(h))
    val rssMb = peakRssMb()
    // stopping drains the listener bus: every event is in the trace
    h.phase("stop")(spark.stop())

    val metrics: Seq[(String, Double)] = h.trace match {
      case None =>
        Seq("setup_s" -> (median(setupReps) + warmS),
          "pass_s" -> median(w.unitSecs),
          "op_geomean_s" -> geomean(h.good.map(_.sec)))
      case Some(t) =>
        val spans = Trace.writeSpans(t, args.workload, h.ops.toSeq, window,
          s"${args.work}/spans.jsonl")
        h.notes += s"$spans spans"
        h.phase("per-layer")(perLayer(h, w, t, rssMb)) :+
          ("trace_overhead_frac" -> busyNs / 1e6 / (window._2 - window._1))
    }

    def obj(kv: Seq[(String, String)]): String =
      kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
    val record = obj(Seq(
      "workload" -> str(args.workload), "seed" -> args.seed.toString,
      "trace" -> args.trace.toString, "cores" -> args.cores.toString,
      "setup_reps_s" -> setupReps.map(num).mkString("[", ",", "]"),
      "warm_up_s" -> num(warmS),
      "spark_version" -> str(org.apache.spark.SPARK_VERSION),
      "conf" -> obj(conf.map { case (k, v) => k -> str(v) }),
      "ops" -> h.ops.map(o => s"[${str(o.name)},${num(o.sec)},${num(o.cpuSec)}," +
        s"${o.ok && !h.checkFailed(o.id)}]").mkString("[", ",", "]"),
      "notes" -> h.notes.map(str).mkString("[", ",", "]")))
    val result = obj(Seq(
      "correct" -> (h.failed == 0).toString,
      "attempted" -> h.attempted.toString,
      "failed" -> h.failed.toString,
      "metrics" -> obj(metrics.map { case (k, v) =>
        k -> obj(Seq("value" -> num(v), "unit" -> str(unitOf(k)))) })))
    val out = new java.io.PrintWriter(args.out, "UTF-8")
    try { out.println(record); out.println(result) } finally out.close()
  }
}
