package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** One span: a call into a layer's public function, made from the
  * benchmark's own code. `op` is the id of the operation it belongs to;
  * spans of one operation share it.
  */
final case class Span(id: Long, name: String, startNs: Long, endNs: Long,
    parent: Long, op: Int) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. Off (the default), [[span]] is a plain call:
  * end-to-end runs pay nothing for it.
  */
final class Tracer(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  private var nextId = 0L
  @volatile private var root = -1L
  @volatile private var op = -1
  // the operation's own thread and its innermost open span: calls on
  // other threads (pipeline pool, streaming batch thread) parent to it
  @volatile private var opThread: Thread = null
  @volatile private var opTop = -1L

  private def newId(): Long = synchronized { nextId += 1; nextId }

  /** Open the root span of operation `opId`. */
  def beginOp(opId: Int): Unit = if (enabled) {
    op = opId
    root = newId()
    opThread = Thread.currentThread()
    opTop = root
    rootStart = System.nanoTime()
  }
  private var rootStart = 0L
  def endOp(name: String): Unit = if (enabled) {
    val s = Span(root, name, rootStart, System.nanoTime(), -1, op)
    synchronized(spans += s)
    root = -1; op = -1
  }

  def span[T](name: String)(f: => T): T =
    if (!enabled || op < 0) f
    else {
      val id = newId()
      val mine = Thread.currentThread() eq opThread
      val parent = stack.get().headOption.getOrElse(if (mine) root else opTop)
      val opId = op
      stack.set(id :: stack.get())
      if (mine) opTop = id
      val t0 = System.nanoTime()
      try f
      finally {
        val s = Span(id, name, t0, System.nanoTime(), parent, opId)
        stack.set(stack.get().tail)
        if (mine) opTop = stack.get().headOption.getOrElse(root)
        synchronized(spans += s)
      }
    }

  def all: Seq[Span] = synchronized(spans.toList)

  /** Self time per span: its duration minus the part of its interval
    * that its children cover (children may overlap one another).
    */
  def selfMs(s: Span, children: Seq[Span]): Double =
    (s.endNs - s.startNs - Intervals.union(children.map(c =>
      (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))))) / 1e6

  /** Per span name: calls, total ms and self ms. */
  def summary: Seq[(String, Int, Double, Double)] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, xs) =>
      (n, xs.size, xs.map(_.ms).sum,
        xs.map(s => selfMs(s, kids.getOrElse(s.id, Nil))).sum)
    }
  }

  def spansJson: String = all.map { s =>
    s"""{"id":${s.id},"name":"${s.name}","start_ns":${s.startNs},""" +
      s""""end_ns":${s.endNs},"parent":${s.parent},"op":${s.op}}"""
  }.mkString("[\n", ",\n", "\n]")
}

object Intervals {
  /** Length covered by the union of [start, end) intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var cs = Long.MinValue; var ce = Long.MinValue
    iv.filter(p => p._2 > p._1).sortBy(_._1).foreach { case (a, b) =>
      if (a > ce) { if (ce > cs) total += ce - cs; cs = a; ce = b }
      else ce = math.max(ce, b)
    }
    if (ce > cs) total += ce - cs
    total
  }
}

/** Timed operation window, in wall-clock ms (the clock Spark's listener
  * events carry).
  */
final case class OpWindow(id: Int, kind: String, startMs: Long, endMs: Long)

/** A Spark job as the listener saw it. */
final case class Job(id: Int, startMs: Long, var endMs: Long, desc: String)

/** Task counters summed over jobs. */
final class Agg {
  var tasks = 0L; var cpuNs = 0L; var shuffleBytes = 0L
  var outputBytes = 0L; var inputBytes = 0L; var spillBytes = 0L
}

/** Spark's own counters, attributed to the timed operation whose window
  * holds the job's start. Jobs that run between operations (checks,
  * cache release) belong to none and are not counted.
  */
final class SparkCounters extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val byJob = mutable.HashMap.empty[Int, Agg]
  @volatile private var ended = 0

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val d = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.description")))
      .getOrElse("")
    jobs(e.jobId) = Job(e.jobId, e.time, -1L, d)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
    ended += 1
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stageJob.get(e.stageId).foreach { j =>
      val a = byJob.getOrElseUpdate(j, new Agg)
      a.tasks += 1
      a.cpuNs += m.executorCpuTime
      a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      a.outputBytes += m.outputMetrics.bytesWritten
      a.inputBytes += m.inputMetrics.bytesRead
      a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Wait (outside any timed region) until every started job has ended,
    * so the asynchronous listener bus has delivered their task events.
    */
  def drain(timeoutMs: Long = 20000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (synchronized(ended < jobs.size) &&
      System.currentTimeMillis() < deadline) Thread.sleep(20)
    Thread.sleep(200) // task-end events trail their job's end
  }

  /** Jobs started inside `w`. */
  def jobsIn(w: OpWindow): Seq[Job] = synchronized {
    jobs.values.filter(j => j.startMs >= w.startMs && j.startMs <= w.endMs)
      .toList
  }
  def agg(js: Seq[Job]): Agg = synchronized {
    val out = new Agg
    js.flatMap(j => byJob.get(j.id)).foreach { a =>
      out.tasks += a.tasks; out.cpuNs += a.cpuNs
      out.shuffleBytes += a.shuffleBytes; out.outputBytes += a.outputBytes
      out.inputBytes += a.inputBytes; out.spillBytes += a.spillBytes
    }
    out
  }

  /** Operation wall time not covered by any job running inside it. */
  def driverMs(w: OpWindow): Double =
    ((w.endMs - w.startMs) - Intervals.union(jobsIn(w).map(j =>
      (j.startMs, if (j.endMs < 0) w.endMs else math.min(j.endMs, w.endMs))))).toDouble
}
