package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** One timed interval of the traced run. `kind` is the layer boundary it
  * sits on (workload → op → job → stage); `parent` is the id of the span that
  * caused it (-1 for the workload span). Times are epoch milliseconds, the
  * clock Spark's listener events carry.
  */
final case class Span(
    id: Int,
    parent: Int,
    kind: String,
    name: String,
    start: Long,
    end: Long,
    counts: Map[String, Double])

/** A Spark job as the listener saw it. */
final case class JobRec(id: Int, start: Long, end: Long, callSite: String, stageIds: Seq[Int])

/** A completed stage with its task-metric totals. */
final case class StageRec(
    id: Int,
    attempt: Int,
    name: String,
    start: Long,
    end: Long,
    tasks: Int,
    runMs: Long,
    cpuNs: Long,
    shuffleWrite: Long,
    shuffleRead: Long,
    spill: Long)

/** JVM-global counters read at op boundaries on the driver thread. */
final case class JvmCounters(gcMs: Long, compiles: Long, compileNs: Long)

object JvmCounters {
  def now(): JvmCounters = JvmCounters(
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum,
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)
}

/** The traced run's recorder: a SparkListener for jobs and stages plus the
  * op spans the harness opens around each call into the engine. Everything
  * stays in memory until the run ends; jobs are attributed to the op whose
  * interval contains their start (the loop is closed, so ops never overlap).
  */
final class Tracer extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stages = mutable.ArrayBuffer.empty[StageRec]
  private val markerSeen = new AtomicInteger(0)

  final case class Op(name: String, start: Long, end: Long, before: JvmCounters, after: JvmCounters)
  private val ops = mutable.ArrayBuffer.empty[Op]
  private var workloadStart = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val site = props.flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("")
    jobs(e.jobId) = JobRec(e.jobId, e.time, -1L, site, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      jobs(e.jobId) = j.copy(end = e.time)
      if (j.callSite == Tracer.Marker) markerSeen.incrementAndGet()
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    stages += StageRec(
      i.stageId, i.attemptNumber(), i.name,
      i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L), i.numTasks,
      if (m == null) 0L else m.executorRunTime,
      if (m == null) 0L else m.executorCpuTime,
      if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
      if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead,
      if (m == null) 0L else m.diskBytesSpilled)
  }

  def beginWorkload(): Unit = workloadStart = System.currentTimeMillis()

  /** Time `body` as one op span; returns its result. */
  def op[T](name: String)(body: => T): T = {
    val before = JvmCounters.now()
    val t0 = System.currentTimeMillis()
    try body
    finally {
      val t1 = System.currentTimeMillis()
      synchronized { ops += Op(name, t0, t1, before, JvmCounters.now()) }
    }
  }

  /** Block until the listener bus has delivered every event posted so far:
    * run one tiny marker job and wait for its end event (the bus is FIFO).
    */
  def drain(spark: org.apache.spark.sql.SparkSession): Unit = {
    val want = markerSeen.get() + 1
    spark.sparkContext.setCallSite(Tracer.Marker)
    try spark.sparkContext.parallelize(Seq(1), 1).count()
    finally spark.sparkContext.clearCallSite()
    val deadline = System.currentTimeMillis() + 30000L
    while (markerSeen.get() < want && System.currentTimeMillis() < deadline) Thread.sleep(10)
  }

  /** Per-op view after [[drain]]: the op, its jobs and their stages. */
  final case class OpView(op: Op, jobs: Seq[JobRec], stages: Seq[StageRec]) {
    def wall: Double = (op.end - op.start) / 1e3
    /** Op wall not covered by any running job: driver-side planning,
      * codegen, listing and waiting between jobs. */
    def driverGap: Double = wall - Trace.covered(jobs.map(j => (j.start, j.end)), op.start, op.end) / 1e3
    def gcS: Double = (op.after.gcMs - op.before.gcMs) / 1e3
    def compiles: Double = (op.after.compiles - op.before.compiles).toDouble
    def compileMs: Double = (op.after.compileNs - op.before.compileNs) / 1e6
  }

  def views(): Seq[OpView] = synchronized {
    val stageByJob = jobs.values.flatMap(j => j.stageIds.map(_ -> j.id)).toMap
    ops.toSeq.map { o =>
      val js = jobs.values.filter(j => j.start >= o.start && j.start <= o.end && j.end >= 0).toSeq
      val ids = js.map(_.id).toSet
      val ss = stages.filter(s => stageByJob.get(s.id).exists(ids.contains)).toSeq
      OpView(o, js, ss)
    }
  }

  /** Every span of the run with parent links and counts; self time per span
    * is its duration minus the part of it its children cover.
    */
  def spans(workload: String): Seq[Span] = synchronized {
    val out = mutable.ArrayBuffer.empty[Span]
    val end = ops.lastOption.map(_.end).getOrElse(workloadStart)
    out += Span(0, -1, "workload", workload, workloadStart, end, Map.empty)
    var next = 1
    views().foreach { v =>
      val opId = next; next += 1
      out += Span(opId, 0, "op", v.op.name, v.op.start, v.op.end, Map(
        "jobs" -> v.jobs.size.toDouble, "gc_s" -> v.gcS,
        "codegen_compiles" -> v.compiles, "codegen_ms" -> v.compileMs))
      v.jobs.sortBy(_.start).foreach { j =>
        val jobId = next; next += 1
        val js = v.stages.filter(s => j.stageIds.contains(s.id))
        out += Span(jobId, opId, "job", s"job ${j.id} ${j.callSite}".trim, j.start, j.end,
          Map("stages" -> js.size.toDouble))
        js.sortBy(_.start).foreach { s =>
          out += Span(next, jobId, "stage", s"stage ${s.id}.${s.attempt} ${s.name}", s.start, s.end,
            Map("tasks" -> s.tasks.toDouble, "task_s" -> s.runMs / 1e3, "cpu_s" -> s.cpuNs / 1e9,
              "shuffle_write_mb" -> s.shuffleWrite / 1e6, "shuffle_read_mb" -> s.shuffleRead / 1e6,
              "spill_mb" -> s.spill / 1e6))
          next += 1
        }
      }
    }
    out.toSeq
  }
}

object Tracer {
  val Marker = "perfbench:marker"
}

object Trace {

  /** Milliseconds of [lo, hi] covered by the union of `intervals`. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) {
          if (curE > curS) total += curE - curS
          curS = s; curE = e
        } else curE = math.max(curE, e)
      }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time (s) per span kind: duration minus the union of its children. */
  def selfTimeByKind(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.kind).map { case (kind, ss) =>
      kind -> ss.map { s =>
        val ch = kids.getOrElse(s.id, Seq.empty).map(c => (c.start, c.end))
        (s.end - s.start - covered(ch, s.start, s.end)) / 1e3
      }.sum
    }
  }
}
