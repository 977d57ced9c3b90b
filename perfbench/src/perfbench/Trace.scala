package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}

final case class Span(id: Long, parent: Long, trace: String, name: String, layer: String,
                      start: Long, end: Long) {
  def json: String =
    s"""{"id":$id,"parent":$parent,"trace":${Json.str(trace)},"name":${Json.str(name)},""" +
      s""""layer":${Json.str(layer)},"start_ms":$start,"end_ms":$end}"""
}

/** Spans around the benchmark's own calls into each layer, kept in memory.
  * When disabled, `apply` only runs the body.
  */
final class Spans(var enabled: Boolean, val trace: String) {
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  private val recorded = ArrayBuffer.empty[Span]
  private var stack: List[Long] = Nil

  def nextId(): Long = ids.incrementAndGet()

  def apply[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId()
      val parent = stack.headOption.getOrElse(0L)
      stack = id :: stack
      val t0 = System.currentTimeMillis()
      try body
      finally {
        stack = stack.tail
        recorded += Span(id, parent, trace, name, layer, t0, System.currentTimeMillis())
      }
    }

  def all: Seq[Span] = recorded.toSeq
}

/** Spark-level counts and timings for a timed window: SQL executions, jobs,
  * stages and task metrics. Executions are labelled by the file and action
  * of their call site (`parquet at Crawl.scala`), never the line number.
  */
final class BenchListener extends SparkListener {
  final case class Exec(id: Long, root: Long, label: String, start: Long, var end: Long) {
    def file: String = label.split(" at ").lastOption.getOrElse("")
    def action: String = label.takeWhile(_ != ' ')
  }
  final case class Job(id: Int, start: Long, var end: Long, exec: Long, stages: Seq[Int])
  final case class Stage(id: Int, name: String, submit: Long, end: Long)

  val execs = LinkedHashMap.empty[Long, Exec]
  val jobs = LinkedHashMap.empty[Int, Job]
  val stages = ArrayBuffer.empty[Stage]
  val taskIntervals = ArrayBuffer.empty[(Long, Long)]
  var tasks, failedTasks, runMs, cpuNs, gcMs = 0L
  var shuffleWrite, shuffleRead, inputRows, outputBytes, spill = 0L

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        execs(s.executionId) = Exec(s.executionId, s.rootExecutionId.getOrElse(s.executionId),
          s.description.replaceAll(":\\d+$", ""), s.time, -1L)
      case s: SparkListenerSQLExecutionEnd => execs.get(s.executionId).foreach(_.end = s.time)
      case _ =>
    }
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
    val exec = Option(j.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    jobs(j.jobId) = Job(j.jobId, j.time, -1L, exec, j.stageIds)
  }

  override def onJobEnd(j: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(j.jobId).foreach(_.end = j.time)
  }

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = synchronized {
    val i = s.stageInfo
    stages += Stage(i.stageId, i.name, i.submissionTime.getOrElse(-1L), i.completionTime.getOrElse(-1L))
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    if (t.taskInfo.failed) failedTasks += 1
    taskIntervals += ((t.taskInfo.launchTime, t.taskInfo.finishTime))
    val m = t.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      inputRows += m.inputMetrics.recordsRead
      outputBytes += m.outputMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Milliseconds of [w0, w1] covered by at least one running task. */
  def coveredMs(w0: Long, w1: Long): Long = synchronized {
    var covered = 0L
    var reach = w0
    for ((a, b) <- taskIntervals.sortBy(_._1)) {
      val s = math.max(a, reach)
      val e = math.min(b, w1)
      if (e > s) { covered += e - s; reach = e }
    }
    covered
  }

  /** Time from each execution's start to its first job, summed. */
  def planMs: Long = synchronized {
    val firstJob = jobs.values.filter(_.exec >= 0).groupBy(_.exec).view.mapValues(_.map(_.start).min)
    execs.values.flatMap(x => firstJob.get(x.id).map(_ - x.start)).sum
  }

  /** Spans for executions, jobs and stages; parents are the execution a job
    * ran under, the job a stage belongs to, and otherwise the innermost
    * benchmark span that was open when the execution or job started.
    */
  def spans(bench: Seq[Span], trace: String, nextId: () => Long): Seq[Span] = synchronized {
    def enclosing(t: Long): Long = bench.filter(s => s.start <= t && t <= s.end)
      .sortBy(s => s.end - s.start).headOption.map(_.id).getOrElse(0L)
    val execIds = execs.values.map(x => x.id -> nextId()).toMap
    val jobIds = jobs.values.map(j => j.id -> nextId()).toMap
    val execSpans = execs.values.filter(_.end >= 0).map { x =>
      val parent = if (x.root != x.id && execIds.contains(x.root)) execIds(x.root) else enclosing(x.start)
      Span(execIds(x.id), parent, trace, x.label, "spark.sql", x.start, x.end)
    }
    val jobSpans = jobs.values.filter(_.end >= 0).map { j =>
      Span(jobIds(j.id), execIds.getOrElse(j.exec, enclosing(j.start)), trace,
        s"job ${j.id}", "spark.job", j.start, j.end)
    }
    val stageJob = jobs.values.flatMap(j => j.stages.map(_ -> jobIds(j.id))).toMap
    val stageSpans = stages.filter(s => s.submit >= 0 && s.end >= 0).map { s =>
      Span(nextId(), stageJob.getOrElse(s.id, 0L), trace, s"stage ${s.id} ${s.name}",
        "spark.stage", s.submit, s.end)
    }
    (execSpans ++ jobSpans ++ stageSpans).toSeq
  }
}

object SelfTime {
  /** Per-layer self time: each span's duration minus the part of it that
    * its children cover.
    */
  def byLayer(spans: Seq[Span]): Seq[(String, Long)] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      var covered = 0L
      var reach = s.start
      for (c <- children.getOrElse(s.id, Nil).sortBy(_.start)) {
        val a = math.max(c.start, reach)
        val b = math.min(c.end, s.end)
        if (b > a) { covered += b - a; reach = b }
      }
      s.layer -> (s.end - s.start - covered)
    }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq.sortBy(-_._2)
  }
}
