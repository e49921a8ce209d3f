package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. `parent` is the enclosing span's id (0 at
  * the top level); times are epoch nanoseconds derived from one
  * (wall clock, nanoTime) anchor, so they line up with listener events. */
final case class Span(id: Int, parent: Int, run: String, name: String,
    layer: String, startNs: Long, endNs: Long, ok: Boolean) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark work attributed to one span through the `perfbench.span` local
  * property, which the span sets on the calling thread while it runs. */
final class JobRec(val id: Int, val span: Int, val startMs: Long) {
  @volatile var endMs: Long = -1L
  @volatile var stages = 0
  @volatile var tasks = 0L
  @volatile var shuffleWriteBytes = 0L
  @volatile var spillBytes = 0L
}

/** Listener side of the traced run: jobs, stages, tasks, shuffle and
  * spill per job, plus Catalyst phase times of every executed query.
  * Time spent inside the callbacks is the listener's own overhead. */
final class SparkSide extends SparkListener with QueryExecutionListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  val phaseMs = new ConcurrentHashMap[String, AtomicLong]()
  val busyNs = new AtomicLong()

  private def timed(body: => Unit): Unit = {
    val t = System.nanoTime()
    try body finally busyNs.addAndGet(System.nanoTime() - t)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val span = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Trace.SpanProp))).map(_.toInt).getOrElse(0)
    jobs.put(e.jobId, new JobRec(e.jobId, span, e.time))
    e.stageIds.foreach(stageJob.put(_, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
    val info = e.stageInfo
    Option(stageJob.get(info.stageId)).flatMap(j => Option(jobs.get(j))).foreach { r =>
      r.synchronized {
        r.stages += 1
        r.tasks += info.numTasks
        Option(info.taskMetrics).foreach { m =>
          r.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          r.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    timed(addPhases(qe))
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    timed(addPhases(qe))

  private def addPhases(qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (phase, summary) =>
      phaseMs.computeIfAbsent(phase, _ => new AtomicLong()).addAndGet(summary.durationMs)
    }

}

/** Span recorder. With `enabled` false no Spark listener is attached and
  * no span is kept; timings the end-to-end metrics need are returned
  * either way. */
final class Trace(val enabled: Boolean, val run: String) {
  private val anchorEpochNs = System.currentTimeMillis() * 1000000L
  private val anchorNano = System.nanoTime()
  def nowNs: Long = anchorEpochNs + (System.nanoTime() - anchorNano)

  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1
  private var stack: List[Int] = Nil
  val spark = new SparkSide

  def attach(s: SparkSession): Unit = if (enabled) {
    s.sparkContext.addSparkListener(spark)
    s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .listenerManager.register(spark)
  }

  /** Run `body` as a span of `layer`; returns its result, its wall
    * seconds and the span id. Jobs the body submits carry this span's
    * id. A throwing body is recorded as a failed span and rethrown. */
  def span[T](s: SparkSession, name: String, layer: String)(body: => T): (T, Double, Int) = {
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(0)
    val sc = s.sparkContext
    stack = id :: stack
    if (enabled) sc.setLocalProperty(Trace.SpanProp, id.toString)
    val t0 = nowNs
    var ok = false
    try {
      val res = body
      ok = true
      (res, (nowNs - t0) / 1e9, id)
    } finally {
      val t1 = nowNs
      stack = stack.tail
      if (enabled) {
        sc.setLocalProperty(Trace.SpanProp, stack.headOption.map(_.toString).orNull)
        spans += Span(id, parent, run, name, layer, t0, t1, ok)
      }
    }
  }

  /** Jobs whose span is `id` or nested below it. */
  def jobsUnder(ids: Set[Int]): Seq[JobRec] = {
    val all = closure(ids)
    spark.jobs.values.asScala.filter(j => all.contains(j.span)).toSeq
  }

  private def closure(ids: Set[Int]): Set[Int] = {
    val kids = spans.groupBy(_.parent).view.mapValues(_.map(_.id)).toMap
    var out = ids; var frontier = ids
    while (frontier.nonEmpty) {
      frontier = frontier.flatMap(i => kids.getOrElse(i, Nil)) -- out
      out ++= frontier
    }
    out
  }

  /** Wall time of span `id` not covered by any of its jobs (driver-side
    * work: plan construction, Catalyst, file listing, result handling). */
  def driverGapSeconds(id: Int): Double = {
    val sp = spans.find(_.id == id).get
    val lo = sp.startNs / 1000000L; val hi = sp.endNs / 1000000L
    val ivs = jobsUnder(Set(id)).filter(_.endMs >= 0)
      .map(j => (math.max(j.startMs, lo), math.min(j.endMs, hi)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var curA = -1L; var curB = -1L
    ivs.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    math.max(0.0, (sp.endNs - sp.startNs) / 1e9 - covered / 1e3)
  }

  private var lastFence = -1

  /** Catalyst seconds by phase so far, once the listener has seen every
    * query executed before this call: a one-task job runs as a fence, and
    * the listener bus delivers events in order (its Spark listeners and
    * query-execution listeners share one queue). Empty when untraced. */
  def phaseSnapshot(s: SparkSession): Map[String, Double] = if (!enabled) Map.empty else {
    val sc = s.sparkContext
    val prop = sc.getLocalProperty(Trace.SpanProp)
    sc.setLocalProperty(Trace.SpanProp, Trace.FenceSpan.toString)
    try sc.parallelize(Seq(0), 1).count() finally sc.setLocalProperty(Trace.SpanProp, prop)
    val deadline = System.nanoTime() + 10L * 1000000000L
    def fence = spark.jobs.values.asScala
      .filter(j => j.span == Trace.FenceSpan && j.id > lastFence && j.endMs >= 0)
    while (fence.isEmpty && System.nanoTime() < deadline) Thread.sleep(5)
    lastFence = (fence.map(_.id) ++ Seq(lastFence)).max
    spark.phaseMs.asScala.map { case (k, v) => k -> v.get / 1e3 }.toMap
  }

  /** Wait (bounded) until the listener bus has delivered every job end. */
  def drain(): Unit = if (enabled) {
    val deadline = System.nanoTime() + 10L * 1000000000L
    while (spark.jobs.values.asScala.exists(_.endMs < 0) && System.nanoTime() < deadline)
      Thread.sleep(20)
  }

  def toJsonLines: Iterator[String] = spans.iterator.map { sp =>
    s"""{"id":${sp.id},"parent":${sp.parent},"run":${Json.str(sp.run)},"name":${Json.str(sp.name)},"layer":${Json.str(sp.layer)},"start_ns":${sp.startNs},"end_ns":${sp.endNs},"ok":${sp.ok}}"""
  }
}

object Trace {
  val SpanProp = "perfbench.span"
  /** Span id of the listener fences' jobs: under no span of the run. */
  val FenceSpan = -1

  def gcSeconds: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum / 1e3

  def cpuSeconds: Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** Generated classes compiled so far (Spark's whole-stage codegen). */
  def codegenCount: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def jitSeconds: Double =
    Option(ManagementFactory.getCompilationMXBean).filter(_.isCompilationTimeMonitoringSupported)
      .map(_.getTotalCompilationTime / 1e3).getOrElse(0.0)
}
