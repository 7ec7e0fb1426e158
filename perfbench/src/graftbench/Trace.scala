package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark task metrics summed over the tasks of one span's jobs. Times in
  * nanoseconds, sizes in bytes.
  */
final class TaskSums {
  var jobs = 0L
  var tasks = 0L
  var runNs = 0L // executor run time (wall inside the task)
  var cpuNs = 0L
  var mapCpuNs = 0L // ShuffleMapTask share of cpuNs
  var resultCpuNs = 0L // ResultTask share of cpuNs
  var gcNs = 0L
  var schedWaitNs = 0L // task launch minus its stage's submission: waiting for a core
  var shuffleWriteBytes = 0L
  var shuffleWriteRecords = 0L
  var shuffleReadBytes = 0L
  var shuffleReadRecords = 0L
  var bytesRead = 0L // input bytes plus in-memory cache bytes read
  var bytesWritten = 0L // output bytes written
  def add(o: TaskSums): Unit = {
    jobs += o.jobs; tasks += o.tasks; runNs += o.runNs; cpuNs += o.cpuNs
    mapCpuNs += o.mapCpuNs; resultCpuNs += o.resultCpuNs; gcNs += o.gcNs
    schedWaitNs += o.schedWaitNs; shuffleWriteBytes += o.shuffleWriteBytes
    shuffleWriteRecords += o.shuffleWriteRecords; shuffleReadBytes += o.shuffleReadBytes
    shuffleReadRecords += o.shuffleReadRecords; bytesRead += o.bytesRead
    bytesWritten += o.bytesWritten
  }
}

/** One recorded span: a named interval around a call into an engine module,
  * with the span that caused it and the request (trace) it belongs to.
  */
final case class Span(
    id: Long, parent: Long, traceId: Long, name: String, thread: String,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** Span recorder. Each span gets its own Spark job group, so a listener can
  * attribute every job, and each job's task metrics, to the innermost span
  * that launched it. Spans stay in memory until the run writes them out.
  *
  * Disabled (the untraced run), `span` just runs its body and no listener
  * is attached: no job groups, no bookkeeping.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val nextId = new AtomicLong(1)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val sums = new ConcurrentHashMap[Long, TaskSums]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val stageSubmitMs = new ConcurrentHashMap[Int, Long]()
  // per-thread stack of open spans: (span id, trace id)
  private val stack = new ThreadLocal[List[(Long, Long)]] {
    override def initialValue(): List[(Long, Long)] = Nil
  }
  private val GroupPrefix = "bench-span-"

  // every task the engine runs while traced: the executor busy and GC
  // fractions come from these
  private val allTasks = new TaskSums

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      g.filter(_.startsWith(GroupPrefix)).foreach { gid =>
        val sid = gid.stripPrefix(GroupPrefix).toLong
        e.stageIds.foreach(st => stageSpan.putIfAbsent(st, sid))
        sumsOf(sid).synchronized(sumsOf(sid).jobs += 1)
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      e.stageInfo.submissionTime.foreach(t => stageSubmitMs.put(e.stageInfo.stageId, t))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m == null) return
      val one = new TaskSums
      one.tasks = 1
      one.runNs = m.executorRunTime * 1000000L
      one.cpuNs = m.executorCpuTime
      if (e.taskType == "ShuffleMapTask") one.mapCpuNs = m.executorCpuTime
      else one.resultCpuNs = m.executorCpuTime
      one.gcNs = m.jvmGCTime * 1000000L
      val sub = stageSubmitMs.get(e.stageId)
      one.schedWaitNs = math.max(0L, e.taskInfo.launchTime - sub) * 1000000L
      one.shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten
      one.shuffleWriteRecords = m.shuffleWriteMetrics.recordsWritten
      one.shuffleReadBytes = m.shuffleReadMetrics.totalBytesRead
      one.shuffleReadRecords = m.shuffleReadMetrics.recordsRead
      one.bytesRead = m.inputMetrics.bytesRead
      one.bytesWritten = m.outputMetrics.bytesWritten
      allTasks.synchronized(allTasks.add(one))
      Option(stageSpan.get(e.stageId)).foreach { sid =>
        val s = sumsOf(sid)
        s.synchronized(s.add(one))
      }
    }
  }

  private def sumsOf(sid: Long): TaskSums = sums.computeIfAbsent(sid, _ => new TaskSums)

  if (enabled) sc.addSparkListener(listener)

  /** Run `body` as a span named `name`, child of this thread's open span.
    * A new root span starts a new trace.
    */
  def span[A](name: String)(body: => A): A = {
    if (!enabled) return body
    val id = nextId.getAndIncrement()
    val outer = stack.get()
    val (parent, traceId) = outer.headOption.getOrElse((0L, id))
    val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
    val prevDesc = sc.getLocalProperty("spark.job.description")
    sc.setJobGroup(GroupPrefix + id, name, interruptOnCancel = false)
    stack.set((id, traceId) :: outer)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack.set(outer)
      if (prevGroup == null) sc.clearJobGroup()
      else sc.setJobGroup(prevGroup, prevDesc, interruptOnCancel = false)
      spans.add(Span(id, parent, traceId, name, Thread.currentThread().getName, t0, t1))
    }
  }

  private val notes = new java.util.concurrent.ConcurrentLinkedQueue[(String, Double)]()

  /** Record a count measured at a span boundary (traced runs only). */
  def note(key: String, v: Double): Unit = if (enabled) notes.add((key, v))

  def noted(key: String): Seq[Double] = notes.asScala.filter(_._1 == key).map(_._2).toSeq

  /** Snapshot of the all-task sums, for a window's busy and GC fractions. */
  def allTasksNow: TaskSums = allTasks.synchronized { val c = new TaskSums; c.add(allTasks); c }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.BenchListenerBus.drain(sc)

  /** All closed spans with their task sums (call after [[drain]]). */
  def recorded: Seq[(Span, TaskSums)] =
    spans.asScala.toSeq.sortBy(_.startNs).map(s => s -> Option(sums.get(s.id)).getOrElse(new TaskSums))

}

object Trace {

  /** Self time of every span: its duration minus the part of its interval
    * that its child spans cover (children merged, so overlapping children
    * on other threads are not subtracted twice).
    */
  def selfNs(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val ivs = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      ivs.foreach { case (a, b) =>
        if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      s.id -> (s.durNs - covered)
    }.toMap
  }

  /** Spans as JSON lines, for the run's span file. */
  def toJsonLines(rec: Seq[(Span, TaskSums)]): Seq[String] = {
    val self = selfNs(rec.map(_._1))
    rec.map { case (s, t) =>
      Json.obj(
        "id" -> s.id, "parent" -> s.parent, "trace" -> s.traceId, "name" -> s.name,
        "thread" -> s.thread, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "self_ns" -> self(s.id), "jobs" -> t.jobs, "tasks" -> t.tasks,
        "cpu_ns" -> t.cpuNs, "gc_ns" -> t.gcNs, "sched_wait_ns" -> t.schedWaitNs,
        "shuffle_write_bytes" -> t.shuffleWriteBytes,
        "shuffle_read_bytes" -> t.shuffleReadBytes, "bytes_read" -> t.bytesRead,
        "bytes_written" -> t.bytesWritten)
    }
  }

  /** One closed span with the name of its trace's root span, its self time
    * and the task sums of its own jobs.
    */
  final case class Call(span: Span, root: String, selfNs: Long, t: TaskSums) {
    def selfS: Double = selfNs / 1e9
    def selfMs: Double = selfNs / 1e6
  }

  def calls(rec: Seq[(Span, TaskSums)]): Seq[Call] = {
    val self = selfNs(rec.map(_._1))
    val byId = rec.map(r => r._1.id -> r._1).toMap
    rec.map { case (s, t) => Call(s, byId.get(s.traceId).map(_.name).getOrElse(s.name), self(s.id), t) }
  }
}
