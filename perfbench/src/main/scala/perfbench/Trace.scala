package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._

/** One timed interval at a layer boundary. `parent` is the index of the
  * enclosing span in the tracer's list, -1 for a root; every span of one
  * operation carries that operation's id.
  */
final case class Span(name: String, start: Long, end: Long, parent: Int,
                      op: Int) {
  def nanos: Long = end - start
}

/** Spans recorded around calls into graft from the benchmark's own code.
  * Kept in memory, summarised at the end of the run. When disabled,
  * `span` just runs its body.
  */
final class Tracer(var enabled: Boolean) {
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var currentOp = -1

  def op[T](id: Int)(body: => T): T = {
    currentOp = id
    try span("op")(body) finally currentOp = -1
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val idx = spans.length
      spans += Span(name, System.nanoTime(), 0L, stack.headOption.getOrElse(-1),
        currentOp)
      stack = idx :: stack
      try body
      finally {
        stack = stack.tail
        spans(idx) = spans(idx).copy(end = System.nanoTime())
      }
    }

  /** Self time of every span named `name`, summed: each span's duration
    * minus the part of it its direct children cover.
    */
  def selfNanos(name: String): Long = {
    val childNanos = new Array[Long](spans.length)
    spans.foreach(s => if (s.parent >= 0) childNanos(s.parent) += s.nanos)
    spans.indices.iterator.filter(i => spans(i).name == name)
      .map(i => spans(i).nanos - childNanos(i)).sum
  }

  def count(name: String): Int = spans.count(_.name == name)
}

/** The Spark execution layer (`exec`) as seen by a listener registered
  * from the benchmark: jobs, stages and tasks, attributed to the
  * benchmark operation that launched them through a local property.
  */
final class ExecListener extends SparkListener {
  import ExecListener._

  final case class Job(op: Int, start: Long, var end: Long = -1L,
                       stages: Seq[Int])
  final class StageAgg {
    val taskMs = ArrayBuffer.empty[Long]
    var tasks = 0
  }

  val jobs = scala.collection.mutable.Map.empty[Int, Job]
  private val stageOp = scala.collection.mutable.Map.empty[Int, Int]
  val stageTasks = scala.collection.mutable.Map.empty[Int, StageAgg]
  var stagesCompleted = 0
  var shuffleWriteBytes = 0L
  var taskBusyMs = 0L
  var gcMs = 0L
  var failedTasks = 0

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(OpProperty)))
      .map(_.toInt).getOrElse(-1)
    jobs(e.jobId) = Job(op, e.time, stages = e.stageIds)
    e.stageIds.foreach(stageOp(_) = op)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      if (stageOp.getOrElse(e.stageInfo.stageId, -1) >= 0) stagesCompleted += 1
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (stageOp.getOrElse(e.stageId, -1) >= 0) {
      val agg = stageTasks.getOrElseUpdate(e.stageId, new StageAgg)
      agg.tasks += 1
      if (e.taskInfo != null) agg.taskMs += e.taskInfo.duration
      if (e.reason != org.apache.spark.Success) failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        taskBusyMs += m.executorRunTime
        gcMs += m.jvmGCTime
      }
    }
  }

  /** Jobs and their wall intervals (ms) per operation. */
  def jobsByOp: Map[Int, Seq[Job]] = synchronized(
    jobs.values.filter(_.op >= 0).toSeq.groupBy(_.op))

  /** Tasks run by the operation's jobs (one per HFile for a file scan). */
  def tasksOfOp(op: Int): Int = synchronized(
    jobs.values.filter(_.op == op).flatMap(_.stages)
      .map(s => stageTasks.get(s).map(_.tasks).getOrElse(0)).sum)

  /** Mean over stages with at least two tasks of the slowest task's
    * duration over the median task's.
    */
  def stragglerRatio: Double = synchronized {
    val ratios = stageTasks.values.filter(_.taskMs.size >= 2).map { a =>
      val s = a.taskMs.sorted
      val med = math.max(1L, s(s.size / 2))
      s.last.toDouble / med
    }
    if (ratios.isEmpty) 0.0 else ratios.sum / ratios.size
  }

  def allJobsEnded(sentinelJob: Int): Boolean = synchronized(
    jobs.get(sentinelJob).exists(_.end >= 0))
}

object ExecListener {
  /** Local property carrying the benchmark operation id into job events. */
  val OpProperty = "perfbench.op"

  /** Wall time (ms) of `[start, end]` not covered by any of `jobs`. */
  def uncoveredMs(start: Long, end: Long, jobs: Seq[ExecListener#Job]): Long = {
    val iv = jobs.map(j => (math.max(start, j.start),
      math.min(end, if (j.end < 0) end else j.end)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L; var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    math.max(0L, (end - start) - covered)
  }
}
