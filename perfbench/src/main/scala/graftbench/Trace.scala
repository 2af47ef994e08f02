package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.plans.TableStore

/** Wall clock in epoch nanoseconds: monotonic within the run, and on the
  * same axis as Spark's epoch-millisecond event times. */
object Clock {
  private val anchorEpochNs = System.currentTimeMillis() * 1000000L
  private val anchorNano = System.nanoTime()
  def nowNs: Long = anchorEpochNs + (System.nanoTime() - anchorNano)
  def msToNs(ms: Long): Long = ms * 1000000L
}

/** One traced interval at a layer boundary. */
final case class Span(name: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** A timed operation of the workload: one micro-batch or one query
  * execution. Per-layer metrics are computed per operation and averaged. */
final case class Op(id: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
  def contains(tNs: Long): Boolean = tNs >= startNs && tNs <= endNs
}

object Intervals {
  /** Total length covered by the union of the intervals, in ns. */
  def unionNs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- iv.sortBy(_._1)) {
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Clip each interval to [lo, hi] and drop the empty ones. */
  def clip(iv: Seq[(Long, Long)], lo: Long, hi: Long): Seq[(Long, Long)] =
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }.filter(p => p._2 > p._1)
}

/** In-memory span recorder; written out once, when the run ends. */
final class Tracer {
  private val spans = new ConcurrentLinkedQueue[Span]()

  def record(name: String, startNs: Long, endNs: Long): Unit =
    spans.add(Span(name, startNs, endNs))

  def all: Seq[Span] = spans.asScala.toSeq

  /** One JSON line per span: each operation becomes a root span, and every
    * span that starts inside an operation gets it as parent and id. */
  def writeJsonl(path: java.nio.file.Path, workload: String, ops: Seq[Op]): Unit = {
    val opLines = ops.zipWithIndex.map { case (op, i) =>
      Json.obj(Seq("id" -> (i + 1), "parent" -> 0, "name" -> "op", "workload" -> workload,
        "op" -> op.id, "start_ns" -> op.startNs, "end_ns" -> op.endNs))
    }
    val spanLines = all.sortBy(_.startNs).zipWithIndex.map { case (s, i) =>
      val parent = ops.indexWhere(_.contains(s.startNs))
      Json.obj(Seq("id" -> (ops.size + i + 1), "parent" -> (parent + 1), "name" -> s.name,
        "workload" -> workload, "op" -> (if (parent >= 0) ops(parent).id else ""),
        "start_ns" -> s.startNs, "end_ns" -> s.endNs))
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, (opLines ++ spanLines).asJava)
  }
}

/** Job, stage and task events from Spark's scheduler, kept for per-op
  * attribution by time. */
final class SchedulerListener extends SparkListener {
  import SchedulerListener._

  private val jobMap = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  val tasks = new ConcurrentLinkedQueue[Task]()
  val stages = new ConcurrentLinkedQueue[(Int, Long)]() // (stageId, submittedNs)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobMap.put(e.jobId, Job(Clock.msToNs(e.time)))
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobMap.get(e.jobId)).foreach(_.endNs = Clock.msToNs(e.time))
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stages.add(e.stageInfo.stageId ->
      Clock.msToNs(e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())))
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val i = e.taskInfo
    val m = e.taskMetrics
    if (m != null) tasks.add(Task(e.stageId, Clock.msToNs(i.launchTime), i.duration, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
      m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
      m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled,
      m.peakExecutionMemory))
  }

  def jobs: Seq[Job] = jobMap.values().asScala.toSeq.filter(_.endNs > 0L)
}

object SchedulerListener {
  final case class Job(startNs: Long, var endNs: Long = 0L)
  final case class Task(stageId: Int, launchNs: Long, durationMs: Long,
                        runMs: Long, cpuNs: Long, gcMs: Long, shuffleRead: Long,
                        shuffleWrite: Long, spill: Long, peakMem: Long)
}

/** Planning phases (analysis, optimization, physical planning) of every
  * query execution, from its QueryPlanningTracker. */
final class PlanListener(tracer: Tracer) extends QueryExecutionListener {
  private def phases(qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (phase, s) =>
      if (phase != "parsing")
        tracer.record(s"plan.$phase", Clock.msToNs(s.startTimeMs), Clock.msToNs(s.endTimeMs))
    }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)
}

/** Heap sampler and GC-time reader over the JVM's management beans. */
final class JvmSampler extends Thread("graftbench-jvm-sampler") {
  setDaemon(true)
  @volatile private var running = true
  @volatile var heapPeak = 0L
  private val mem = ManagementFactory.getMemoryMXBean

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  def resetPeak(): Unit = heapPeak = mem.getHeapMemoryUsage.getUsed

  override def run(): Unit = while (running) {
    val used = mem.getHeapMemoryUsage.getUsed
    if (used > heapPeak) heapPeak = used
    Thread.sleep(20)
  }

  def shutdown(): Unit = { running = false; join() }
}

/** Times every call into the store layer. Wraps the program's own store;
  * registered only in the traced run. */
final class TimingStore(inner: TableStore, tracer: Tracer) extends TableStore {
  val failed = new AtomicLong(0)

  private def timed[T](call: String, table: String)(body: => T): T = {
    val s = Clock.nowNs
    try body
    catch { case e: Throwable => failed.incrementAndGet(); throw e }
    finally tracer.record(s"store.$call:$table", s, Clock.nowNs)
  }

  def exists(name: String): Boolean = inner.exists(name)
  def read(name: String): DataFrame = inner.read(name)
  def mergeDim(name: String, batch: DataFrame, natKey: Seq[String], skCol: String): DataFrame =
    timed("mergeDim", name)(inner.mergeDim(name, batch, natKey, skCol))
  def mergeFact(name: String, batch: DataFrame, natKey: Seq[String]): DataFrame =
    timed("mergeFact", name)(inner.mergeFact(name, batch, natKey))
  def appendTable(name: String, batch: DataFrame): DataFrame =
    timed("appendTable", name)(inner.appendTable(name, batch))
  def replaceTable(name: String, batch: DataFrame, natKey: Seq[String]): DataFrame =
    timed("replaceTable", name)(inner.replaceTable(name, batch, natKey))
  def vacuum(name: String, retainMillis: Long): Unit =
    timed("vacuum", name)(inner.vacuum(name, retainMillis))
}

/** The traced run's instruments, registered on one session. */
final class Instruments(spark: SparkSession) {
  val tracer = new Tracer
  val scheduler = new SchedulerListener
  val jvm = new JvmSampler
  spark.sparkContext.addSparkListener(scheduler)
  spark.listenerManager.register(new PlanListener(tracer))
  jvm.start()

  /** Block until the listener bus has delivered every event posted so far. */
  def drain(): Unit = org.apache.spark.graftbench.ListenerBus.drain(spark.sparkContext)

  /** Scheduler and JVM metrics averaged over the operations. */
  def sparkMetrics(ops: Seq[Op], cores: Int, gcMsDelta: Long): Seq[(String, Double)] = {
    val jobs = scheduler.jobs
    val tasks = scheduler.tasks.asScala.toSeq
    val stageStart = scheduler.stages.asScala.toSeq
    val per = ops.map { op =>
      val js = jobs.filter(j => op.contains(j.startNs))
      val ts = tasks.filter(t => op.contains(t.launchNs))
      val ss = stageStart.filter(s => op.contains(s._2))
      val jobCover = Intervals.unionNs(Intervals.clip(js.map(j => (j.startNs, j.endNs)), op.startNs, op.endNs))
      val runMs = ts.map(_.runMs).sum.toDouble
      val skews = ts.groupBy(_.stageId).values.filter(_.size > 1).map { st =>
        val d = st.map(_.durationMs.toDouble).sorted
        val med = Stats.quantile(d, 0.5)
        if (med > 0) d.last / med else 1.0
      }
      Map(
        "spark.jobs" -> js.size.toDouble,
        "spark.stages" -> ss.size.toDouble,
        "spark.tasks" -> ts.size.toDouble,
        "spark.driver_gap_ms" -> (op.endNs - op.startNs - jobCover) / 1e6,
        "spark.task_run_ms" -> runMs,
        "spark.task_cpu_ms" -> ts.map(_.cpuNs).sum / 1e6,
        "spark.task_gc_ms" -> ts.map(_.gcMs).sum.toDouble,
        "spark.shuffle_read_bytes" -> ts.map(_.shuffleRead).sum.toDouble,
        "spark.shuffle_write_bytes" -> ts.map(_.shuffleWrite).sum.toDouble,
        "spark.spill_bytes" -> ts.map(_.spill).sum.toDouble,
        "spark.peak_exec_mem_bytes" -> (if (ts.isEmpty) 0.0 else ts.map(_.peakMem).max.toDouble),
        "spark.core_busy_ratio" -> (if (op.ms > 0) runMs / (op.ms * cores) else 0.0),
        "spark.stage_skew" -> (if (skews.isEmpty) 1.0 else Stats.mean(skews.toSeq)))
    }
    val keys = per.headOption.map(_.keys.toSeq.sorted).getOrElse(Nil)
    keys.map(k => k -> Stats.mean(per.map(_(k)))) ++ Seq(
      "jvm.gc_ms" -> (if (ops.isEmpty) 0.0 else gcMsDelta.toDouble / ops.size),
      "jvm.heap_peak_bytes" -> jvm.heapPeak.toDouble)
  }

  /** Plan-phase time per op: the union of the planning spans that start
    * inside the op (sequential phases never overlap within a query; the
    * union keeps concurrent queries from being counted twice). */
  def planMs(op: Op, within: Option[(Long, Long)] = None): Double = {
    val (lo, hi) = within.getOrElse((op.startNs, op.endNs))
    val ps = tracer.all.filter(s => s.name.startsWith("plan.") && s.startNs >= lo && s.startNs <= hi)
    Intervals.unionNs(ps.map(s => (s.startNs, s.endNs))) / 1e6
  }

  def close(): Unit = jvm.shutdown()
}

object Stats {
  /** Linear-interpolated quantile of sorted values (q in [0, 1]). */
  def quantile(sorted: Seq[Double], q: Double): Double =
    if (sorted.isEmpty) 0.0
    else {
      val pos = q * (sorted.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      sorted(lo) + (sorted(hi) - sorted(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs.sorted, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}
