package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler._
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One span of the trace: a layer call made by the benchmark, or a Spark
  * job, stage or task. Times are nanoseconds on the driver's clock.
  */
final case class TSpan(id: Int, parent: Int, name: String, start: Long, end: Long,
    attrs: Map[String, Double] = Map.empty)

/** Task metrics kept from a SparkListenerTaskEnd. */
final case class TaskRec(stageId: Int, launchMs: Long, finishMs: Long, runMs: Long, cpuNs: Long,
    gcMs: Long, deserMs: Long, resultSerMs: Long, shuffleWriteBytes: Long,
    shuffleReadRecords: Long, fetchWaitMs: Long, inputRecords: Long)

/** Records Spark's job, stage and task events from outside the program. */
final class EventLog extends SparkListener {
  val jobs = new ConcurrentLinkedQueue[(Int, Long, Long)]() // id, start ms, end ms
  val stages = new ConcurrentLinkedQueue[(Int, Int, Long, Long)]() // id, job, submitted, completed
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Integer]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobStart.put(e.jobId, e.time)
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.add((e.jobId, Option(jobStart.get(e.jobId)).map(_.longValue).getOrElse(e.time), e.time))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    stages.add((i.stageId, Option(stageJob.get(i.stageId)).map(_.intValue).getOrElse(-1),
      i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(TaskRec(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime,
      m.executorRunTime, m.executorCpuTime, m.jvmGCTime, m.executorDeserializeTime,
      m.resultSerializationTime, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.recordsRead, m.shuffleReadMetrics.fetchWaitTime,
      m.inputMetrics.recordsRead))
  }

  def clear(): Unit = { jobs.clear(); stages.clear(); tasks.clear() }

  def taskList: Vector[TaskRec] = tasks.asScala.toVector
}

/** Spans kept in memory and written once, when the run ends. Layer spans
  * come from the benchmark's calls into each layer; Spark jobs become
  * children of the innermost layer span open when they started, stages
  * children of their job, and tasks children of their stage.
  */
final class Tracer(private var enabled: Boolean) {
  private val originNs = System.nanoTime()
  private val originMs = System.currentTimeMillis()
  private val spans = ArrayBuffer[TSpan]()
  private var open: List[(Int, String, Long)] = Nil
  private var nextId = 1

  /** Runs `f` with span recording off. */
  def paused[T](f: => T): T = {
    val was = enabled
    enabled = false
    try f finally enabled = was
  }

  private def msToNs(ms: Long): Long = originNs + (ms - originMs) * 1000000L

  def span[T](name: String)(f: => T): T = if (!enabled) f else {
    val id = nextId; nextId += 1
    open = (id, name, System.nanoTime()) :: open
    try f
    finally {
      val (_, _, start) = open.head
      open = open.tail
      spans += TSpan(id, open.headOption.map(_._1).getOrElse(0), name, start, System.nanoTime())
    }
  }

  /** Adds the Spark events of `log` under the layer spans open at the time. */
  def adopt(log: EventLog): Unit = {
    val layers = spans.toVector.filterNot(_.name.startsWith("spark."))
    def innermost(ns: Long): Int = {
      val c = layers.filter(s => s.start <= ns && ns <= s.end)
      if (c.isEmpty) 0 else c.minBy(s => s.end - s.start).id
    }
    val jobIds = scala.collection.mutable.Map[Int, Int]()
    log.jobs.asScala.foreach { case (job, s, e) =>
      val id = nextId; nextId += 1
      jobIds(job) = id
      spans += TSpan(id, innermost(msToNs(s)), "spark.job", msToNs(s), msToNs(e), Map("job" -> job))
    }
    val stageIds = scala.collection.mutable.Map[Int, Int]()
    log.stages.asScala.foreach { case (stage, job, s, e) =>
      val id = nextId; nextId += 1
      stageIds(stage) = id
      spans += TSpan(id, jobIds.getOrElse(job, 0), "spark.stage", msToNs(s), msToNs(e), Map("stage" -> stage))
    }
    log.tasks.asScala.foreach { t =>
      val id = nextId; nextId += 1
      spans += TSpan(id, stageIds.getOrElse(t.stageId, 0), "spark.task", msToNs(t.launchMs),
        msToNs(t.finishMs), Map("run_ms" -> t.runMs, "cpu_ms" -> t.cpuNs / 1e6, "gc_ms" -> t.gcMs,
          "input_records" -> t.inputRecords))
    }
  }

  def all: Vector[TSpan] = spans.toVector

  /** Per span name: count, total ms and self ms (the span minus the part of
    * it its children cover).
    */
  def selfTimes: Map[String, (Int, Double, Double)] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      val total = ss.map(s => s.end - s.start).sum
      val self = ss.map { s =>
        val iv = kids.getOrElse(s.id, Nil).map(k => (math.max(k.start, s.start), math.min(k.end, s.end)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0L; var curA = 0L; var curB = Long.MinValue
        iv.foreach { case (a, b) =>
          if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
          else curB = math.max(curB, b)
        }
        if (curB > curA) covered += curB - curA
        (s.end - s.start) - covered
      }.sum
      name -> (ss.size, total / 1e6, self / 1e6)
    }
  }

  def toJson(extra: Seq[(String, String)]): String = {
    val sb = new StringBuilder("{\"spans\":[\n")
    sb.append(spans.sortBy(_.start).map { s =>
      val attrs = s.attrs.map { case (k, v) => s""""$k":$v""" }.mkString(",")
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","start_ns":${s.start - originNs},"end_ns":${s.end - originNs},"attrs":{$attrs}}"""
    }.mkString(",\n"))
    sb.append("\n],\"self_ms\":{")
    sb.append(selfTimes.toSeq.sortBy(_._1).map { case (n, (c, t, s)) =>
      s""""$n":{"count":$c,"total_ms":$t,"self_ms":$s}"""
    }.mkString(","))
    sb.append("}")
    extra.foreach { case (k, v) => sb.append(s""","$k":$v""") }
    sb.append("}\n")
    sb.toString
  }
}

/** A snapshot store that records a span around each call into the lineage
  * layer and otherwise passes it through.
  */
final class TracedStore(inner: graft.pipeline.SnapshotStore, tracer: Tracer)
    extends graft.pipeline.SnapshotStore {
  override def commitRun(runId: String, result: org.apache.spark.sql.Dataset[graft.pipeline.ExtractedDoc]): Unit =
    tracer.span("store.commitRun")(inner.commitRun(runId, result))
  override def committedDocIds(spark: org.apache.spark.sql.SparkSession): org.apache.spark.sql.Dataset[String] =
    tracer.span("store.committedDocIds")(inner.committedDocIds(spark))
  override def committedRuns: Seq[String] = inner.committedRuns
}
