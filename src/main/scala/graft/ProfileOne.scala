package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

import scala.collection.mutable

/** Dev utility (optimization rounds): run one named query with a
  * SparkListener attached and print a per-job wall-time breakdown —
  * where a multi-action query (streaming drains, staged builds,
  * foreachBatch bodies) actually spends its time. Usage:
  *   runMain graft.ProfileOne <queryName> [sfDir]
  * Prints: each job's id, wall ms, total task ms, stage count and the
  * job's call-site description, sorted by wall time; then the gap time
  * (wall outside any job — driver work, streaming machinery, fs I/O).
  * Not part of the driver contract; measurement tooling only. */
object ProfileOne {
  def main(args: Array[String]): Unit = {
    if (args.isEmpty || !SparkEntry.queries.contains(args(0))) {
      System.err.println("usage: runMain graft.ProfileOne <queryName> [sfDir]")
      System.err.println(s"valid names: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}")
      sys.exit(2)
    }
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.local(cpus)
    // warm-up: JVM/codegen + any stageOnce artifacts, so the profiled
    // pass measures the steady-state query, not one-time staging
    try SparkEntry.entry(spark).count() catch { case scala.util.control.NonFatal(_) => () }
    val fn = SparkEntry.queries(name)
    try { fn(spark, sfDir).queryExecution.executedPlan.execute().count() }
    catch { case scala.util.control.NonFatal(e) => System.err.println(s"[profile] warm pass failed: ${e.getMessage}") }

    case class Job(id: Int, var desc: String = "", var t0: Long = 0L,
      var t1: Long = 0L, var taskMs: Long = 0L, var stages: Int = 0)
    val jobs = mutable.LinkedHashMap[Int, Job]()
    val stageToJob = mutable.HashMap[Int, Int]()
    // SQL-execution-id → the head line of its physical plan, so jobs
    // can be grouped by WHAT plan ran them (callSite is blank under
    // foreachBatch; this is the signal that survives)
    val execPlans = mutable.HashMap[String, String]()
    // exec id → (start ms, end ms): lets the report split the non-job
    // "gap" into time INSIDE SQL executions (planning, AQE replanning,
    // codegen, broadcast waits between that exec's jobs) vs OUTSIDE any
    // exec (streaming trigger machinery, FS/commit work, driver logic)
    val execSpans = mutable.HashMap[String, (Long, Long)]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => jobs.synchronized {
          val head = s.physicalPlanDescription.linesIterator
            .filter(_.nonEmpty).take(3).mkString(" | ")
          execPlans(s.executionId.toString) = head.take(160)
          execSpans(s.executionId.toString) = (s.time, 0L)
        }
        case s: SparkListenerSQLExecutionEnd => jobs.synchronized {
          execSpans.get(s.executionId.toString).foreach { case (t0, _) =>
            execSpans(s.executionId.toString) = (t0, s.time)
          }
        }
        case _ => ()
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
        val j = jobs.getOrElseUpdate(e.jobId, Job(e.jobId))
        j.t0 = e.time
        j.desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .map(id => s"exec=$id")
          .orElse(Option(e.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description"))))
          .orElse(Option(e.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("")
          .replace('\n', ' ')
        e.stageIds.foreach(s => stageToJob(s) = e.jobId)
        j.stages += e.stageIds.size
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
        jobs.get(e.jobId).foreach(_.t1 = e.time)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        jobs.synchronized {
          for (jid <- stageToJob.get(e.stageInfo.stageId); j <- jobs.get(jid))
            j.taskMs += e.stageInfo.taskMetrics.executorRunTime
        }
    }
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    val df = fn(spark, sfDir)
    val n = df.queryExecution.executedPlan.execute().count()
    val wallMs = (System.nanoTime() - t0) / 1e6
    org.apache.spark.sql.graft.Internals.drainListenerBus(spark.sparkContext)
    val snap = jobs.synchronized { jobs.values.toVector }
    val done = snap.filter(j => j.t1 > 0 && j.t0 > 0)
    println(f"[profile] $name rows=$n wall=${wallMs / 1000}%.2f s jobs=${snap.size}")
    // wall covered by jobs (union of intervals) vs gap (driver/fs time)
    val ivs = done.map(j => (j.t0, j.t1)).sortBy(_._1)
    var covered = 0L; var cur: Option[(Long, Long)] = None
    for ((a, b) <- ivs) cur match {
      case Some((c0, c1)) if a <= c1 => cur = Some((c0, math.max(c1, b)))
      case Some((c0, c1)) => covered += c1 - c0; cur = Some((a, b))
      case None => cur = Some((a, b))
    }
    cur.foreach { case (c0, c1) => covered += c1 - c0 }
    println(f"[profile] job-covered=${covered / 1000.0}%.2f s  gap=${wallMs / 1000 - covered / 1000.0}%.2f s")
    // split the gap: union of exec spans vs union of job spans — the
    // difference is driver time INSIDE executions (planning, AQE
    // replanning, codegen, broadcast waits); the rest of the gap is
    // outside any exec (stream machinery, FS commits, driver logic)
    val spans = jobs.synchronized { execSpans.values.toVector }
      .filter(s => s._2 > 0 && s._1 > 0).sortBy(_._1)
    var execCovered = 0L; var c2: Option[(Long, Long)] = None
    for ((a, b) <- spans) c2 match {
      case Some((e0, e1)) if a <= e1 => c2 = Some((e0, math.max(e1, b)))
      case Some((e0, e1)) => execCovered += e1 - e0; c2 = Some((a, b))
      case None => c2 = Some((a, b))
    }
    c2.foreach { case (e0, e1) => execCovered += e1 - e0 }
    println(f"[profile] exec-covered=${execCovered / 1000.0}%.2f s (n=${spans.size}) — in-exec driver ≈ ${(execCovered - covered) / 1000.0}%.2f s, outside-exec ≈ ${wallMs / 1000 - execCovered / 1000.0}%.2f s")
    done.sortBy(j => -(j.t1 - j.t0)).take(40).foreach { j =>
      println(f"[profile]   job=${j.id}%4d wall=${(j.t1 - j.t0) / 1000.0}%7.2f s task=${j.taskMs / 1000.0}%7.2f s stages=${j.stages}%2d  ${j.desc.take(110)}")
    }
    // aggregate by plan-head: which plan SHAPES own the wall time
    val byPlan = done.groupBy { j =>
      if (j.desc.startsWith("exec=")) {
        val plan = execPlans.getOrElse(j.desc.stripPrefix("exec="), j.desc)
        plan
      } else j.desc
    }.map { case (plan, js) =>
      (plan, js.size, js.map(j => j.t1 - j.t0).sum / 1000.0)
    }.toSeq.sortBy(-_._3)
    println(s"[profile] --- jobs grouped by plan head (n, Σwall) ---")
    byPlan.take(30).foreach { case (plan, n, w) =>
      println(f"[profile]   n=$n%3d sum=$w%7.2f s  ${plan.take(150)}")
    }
    spark.stop()
  }
}
