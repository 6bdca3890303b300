package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** One traced interval. `parent` is the id of the enclosing span (-1 for
  * the root); all spans of one benchmark run share `runId`. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
  /** The layer is the name's first dot-separated segment. */
  def layer: String = name.takeWhile(_ != '.')
}

/** In-memory span recorder around the benchmark's calls into each graft
  * layer. Driver-side and single-threaded: spans nest by call order.
  * When disabled, `span` only evaluates its body. */
final class Tracer(val enabled: Boolean, val runId: String) {
  private val done = ArrayBuffer.empty[Span]
  private var stack: List[(Int, String, Long)] = Nil
  private var nextId = 0

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      stack = (id, name, System.nanoTime()) :: stack
      try body
      finally {
        val (_, _, t0) = stack.head
        stack = stack.tail
        done += Span(id, parent, name, t0, System.nanoTime())
      }
    }

  def spans: Seq[Span] = done.toSeq

  /** Per-span self time: its duration minus the part covered by its
    * direct children (children never overlap: one thread). */
  def selfTimes(within: Seq[Span]): Seq[(Span, Long)] = {
    val childNs = within.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.durNs).sum }
    within.map(s => s -> (s.durNs - childNs.getOrElse(s.id, 0L)))
  }

  /** Spans nested (at any depth) under the span with id `root`. */
  def descendants(root: Int): Seq[Span] = {
    val byParent = done.groupBy(_.parent)
    val out = ArrayBuffer.empty[Span]
    var frontier = byParent.getOrElse(root, Nil).toSeq
    while (frontier.nonEmpty) {
      out ++= frontier
      frontier = frontier.flatMap(s => byParent.getOrElse(s.id, Nil))
    }
    out.toSeq
  }

  def toJson: String = done.sortBy(_.id).map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs},"run_id":${Json.str(runId)}}"""
  }.mkString("[\n", ",\n", "\n]")
}

/** Counts Spark execution through the public SparkListener API: jobs,
  * stages, tasks, task time, shuffle and spill bytes, and SQL executions
  * with their intervals, so driver time inside and outside executions can
  * be split from job time. Events carry wall-clock ms; only those inside
  * a window are reported. */
final class SparkProbe extends SparkListener {
  private case class Iv(var t0: Long, var t1: Long)
  private val jobs = mutable.HashMap.empty[Int, Iv]
  private val execs = mutable.HashMap.empty[Long, Iv]
  private val stagesDone = ArrayBuffer.empty[Long] // completion times
  private val tasks = ArrayBuffer.empty[(Long, Long, Long, Long)] // (end, runMs, shuffle, spill)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = Iv(e.time, -1L)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.t1 = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stagesDone += e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val shuffle = m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      tasks += ((e.taskInfo.finishTime, m.executorRunTime, shuffle,
        m.memoryBytesSpilled + m.diskBytesSpilled))
    }
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized { execs(s.executionId) = Iv(s.time, -1L) }
    case s: SparkListenerSQLExecutionEnd => synchronized { execs.get(s.executionId).foreach(_.t1 = s.time) }
    case _ => ()
  }

  /** Waits until every started job and execution has ended (the listener
    * bus is asynchronous), up to `timeoutMs`. */
  def settle(timeoutMs: Long): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    def open = synchronized { jobs.values.exists(_.t1 < 0) || execs.values.exists(_.t1 < 0) }
    Thread.sleep(200) // events of the last action may still be queued
    while (open && System.currentTimeMillis() < deadline) Thread.sleep(20)
  }

  private def union(ivs: Iterable[(Long, Long)]): Long = {
    var covered = 0L
    var cur: (Long, Long) = null
    for ((a, b) <- ivs.toSeq.sortBy(_._1)) {
      if (cur == null) cur = (a, b)
      else if (a <= cur._2) cur = (cur._1, math.max(cur._2, b))
      else { covered += cur._2 - cur._1; cur = (a, b) }
    }
    if (cur != null) covered += cur._2 - cur._1
    covered
  }

  /** Totals over events inside [t0Ms, t1Ms] (wall clock). */
  def totals(t0Ms: Long, t1Ms: Long): Map[String, Double] = synchronized {
    def in(iv: Iv) = iv.t0 >= t0Ms && iv.t1 >= 0 && iv.t1 <= t1Ms
    val js = jobs.values.filter(in).map(iv => (iv.t0, iv.t1))
    val xs = execs.values.filter(in).map(iv => (iv.t0, iv.t1))
    val ts = tasks.filter(t => t._1 >= t0Ms && t._1 <= t1Ms)
    val wallS = (t1Ms - t0Ms) / 1000.0
    val jobCovered = union(js) / 1000.0
    val execCovered = union(xs ++ js) / 1000.0
    Map(
      "spark.sql_executions" -> xs.size.toDouble,
      "spark.jobs" -> js.size.toDouble,
      "spark.stages" -> stagesDone.count(t => t >= t0Ms && t <= t1Ms).toDouble,
      "spark.tasks" -> ts.size.toDouble,
      "spark.job_covered_s" -> jobCovered,
      "spark.in_exec_driver_s" -> (execCovered - jobCovered),
      "spark.outside_exec_s" -> (wallS - execCovered),
      "spark.task_s" -> ts.map(_._2).sum / 1000.0,
      "spark.shuffle_bytes" -> ts.map(_._3).sum.toDouble,
      "spark.spill_bytes" -> ts.map(_._4).sum.toDouble)
  }
}

/** Keeps every StreamingQueryProgress (public StreamingQueryListener
  * API) in arrival order, so the triggers of one phase can be read back
  * with the time each spent in the trigger machinery. */
final class StreamProbe extends StreamingQueryListener {
  private val progress = ArrayBuffer.empty[StreamingQueryProgress]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized { progress += e.progress }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  def count: Int = synchronized(progress.size)

  /** Progress reports numbered [from, until) in arrival order. */
  def slice(from: Int, until: Int): Seq[StreamingQueryProgress] =
    synchronized(progress.slice(from, until).toSeq)
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def obj(m: Iterable[(String, String)]): String =
    m.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
