package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel
import graft.GraftSession

/** State one workload run shares with its passes. Per-layer values are
  * accumulated in `layers` and divided by the pass count at the end
  * unless listed in `absolute`. */
final class Ctx(val spark: SparkSession, val inputs: String, val out: String,
    val work: String, val tracer: Tracer, val streams: StreamProbe) {
  val layers: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  val absolute: mutable.Set[String] = mutable.Set.empty
  val errors: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  var attempted = 0L
  var failed = 0L
  /** Extra result fields (already JSON-encoded values). */
  val extra: mutable.LinkedHashMap[String, String] = mutable.LinkedHashMap.empty

  def add(name: String, v: Double): Unit = layers(name) = layers.getOrElse(name, 0.0) + v
  def set(name: String, v: Double): Unit = { layers(name) = v; absolute += name }

  /** In a traced run, force a DataFrame at a layer boundary so the work
    * of that layer lands inside its span; untraced runs stay lazy. */
  def materialize(df: DataFrame): (DataFrame, Long) =
    if (!tracer.enabled) (df, -1L)
    else {
      val p = df.persist(StorageLevel.MEMORY_ONLY)
      (p, p.count())
    }
}

/** One benchmark workload: untimed set-up, a repeatable timed pass, and
  * the untimed write-out of what the correctness gate checks. */
trait Workload {
  def setup(ctx: Ctx): Unit
  /** Timed work done once after the passes, on a warmed-up JVM (for
    * example a paced phase); returns per-operation latencies in ms. */
  def finale(ctx: Ctx): Seq[Double] = Nil
  /** One timed pass; returns per-operation latencies in ms. */
  def pass(ctx: Ctx, i: Int): Seq[Double]
  def finish(ctx: Ctx, passes: Int): Unit
  def maxPasses: Int
}

/** The share of the machine's CPU time the hypervisor withheld (steal)
  * over an interval, from the first line of /proc/stat; the baseline
  * records it next to each run to tell interference from the program. */
object Steal {
  /** (steal, total) ticks of all CPUs. */
  def ticks: (Long, Long) = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
    (f(7), f.take(8).sum)
  }
  def share(a: (Long, Long), b: (Long, Long)): Double =
    if (b._2 == a._2) 0.0 else (b._1 - a._1).toDouble / (b._2 - a._2)
}

/** Benchmark harness process. Usage:
  *   perfbench.Harness --workload W --inputs DIR --out DIR --seconds S
  *     --trace 0|1 --cores N --run-id ID
  * Writes DIR/result.json (and DIR/spans.json when traced). */
object Harness {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val trace = opt("trace") == "1"
    val seconds = opt("seconds").toDouble
    val cores = opt("cores").toInt
    val out = opt("out")
    Files.createDirectories(Paths.get(out))
    val tracer = new Tracer(trace, opt("run-id"))
    val workload: Workload = opt("workload") match {
      case "pipeline" => new Pipeline
      case "registry" => new Registry
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }

    // the same session as graft.Bench: local[cores], shuffle partitions =
    // cores, GraftSession.tune, WARN log level
    val spark = tracer.span("session.start") {
      val s = GraftSession.tune(
        SparkSession.builder()
          .master(s"local[$cores]")
          .config("spark.sql.shuffle.partitions", cores.toString))
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s
    }
    val streams = new StreamProbe
    spark.streams.addListener(streams)
    val sparkProbe = if (trace) Some(new SparkProbe) else None
    sparkProbe.foreach(spark.sparkContext.addSparkListener)
    val ctx = new Ctx(spark, opt("inputs"), out, s"$out/work", tracer, streams)

    workload.setup(ctx)
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val timedStartMs = System.currentTimeMillis()
    val setupS = (timedStartMs - jvmStartMs) / 1000.0

    val passS = mutable.ArrayBuffer.empty[Double]
    val passSteal = mutable.ArrayBuffer.empty[Double]
    // latency samples grouped by pass (the finale, if any, last)
    val opMs = mutable.ArrayBuffer.empty[Seq[Double]]
    val t0 = System.nanoTime()
    def elapsedS = (System.nanoTime() - t0) / 1e9
    tracer.span("bench.timed") {
      while (passS.size < workload.maxPasses &&
          (passS.isEmpty || elapsedS < seconds)) {
        val p0 = System.nanoTime()
        val k0 = Steal.ticks
        val lat = tracer.span("bench.pass") {
          try workload.pass(ctx, passS.size)
          catch { case NonFatal(e) =>
            ctx.failed += 1
            ctx.errors += s"pass ${passS.size}: ${e.getClass.getSimpleName}: ${e.getMessage}"
            Nil
          }
        }
        passS += (System.nanoTime() - p0) / 1e9
        passSteal += Steal.share(k0, Steal.ticks)
        opMs += lat
      }
      opMs += workload.finale(ctx)
    }
    val timedEndMs = System.currentTimeMillis()
    val wallS = (System.nanoTime() - t0) / 1e9
    workload.finish(ctx, passS.size)

    val n = math.max(passS.size, 1).toDouble
    val layers = mutable.LinkedHashMap.empty[String, Double]
    ctx.layers.foreach { case (k, v) => layers(k) = if (ctx.absolute(k)) v else v / n }
    if (trace) {
      // per-layer self time over the timed region, per pass
      val timed = tracer.spans.find(_.name == "bench.timed").get
      val inside = tracer.descendants(timed.id)
      val self = tracer.selfTimes(timed +: inside)
      self.filter(_._1.layer != "bench").groupBy(_._1.name).foreach { case (name, ss) =>
        layers(name + "_s") = layers.getOrElse(name + "_s", 0.0) + ss.map(_._2).sum / 1e9 / n
      }
      val byLayer = self.groupBy(_._1.layer).map { case (l, ss) => l -> ss.map(_._2).sum / 1e9 }
      val attributed = byLayer.filter(_._1 != "bench").values.sum
      layers("trace.wall_s") = wallS / n
      layers("trace.attributed_s") = attributed / n
      layers("trace.unattributed_frac") = 1.0 - attributed / wallS
      tracer.spans.filter(_.layer == "session").groupBy(_.name).foreach { case (name, ss) =>
        layers(name + "_s") = layers.getOrElse(name + "_s", 0.0) + ss.map(_.durNs).sum / 1e9
      }
      sparkProbe.foreach { p =>
        p.settle(10000)
        p.totals(timedStartMs, timedEndMs).foreach { case (k, v) => layers(k) = v / n }
      }
      Files.writeString(Paths.get(s"$out/spans.json"), tracer.toJson)
    }

    val rssMb = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
    val fields = mutable.LinkedHashMap[String, String](
      "workload" -> Json.str(opt("workload")),
      "run_id" -> Json.str(tracer.runId),
      "setup_s" -> Json.num(setupS),
      "timed_start_ms" -> timedStartMs.toString,
      "wall_s" -> Json.num(wallS),
      "pass_s" -> passS.map(Json.num).mkString("[", ",", "]"),
      "pass_steal" -> passSteal.map(Json.num).mkString("[", ",", "]"),
      "op_ms" -> opMs.map(_.map(Json.num).mkString("[", ",", "]")).mkString("[", ",", "]"),
      "peak_rss_mb" -> Json.num(rssMb),
      "attempted" -> ctx.attempted.toString,
      "failed" -> ctx.failed.toString,
      "errors" -> ctx.errors.map(Json.str).mkString("[", ",", "]"),
      "layers" -> Json.obj(layers.map { case (k, v) => k -> Json.num(v) }))
    fields ++= ctx.extra
    Files.writeString(Paths.get(s"$out/result.json"), Json.obj(fields))
    spark.stop()
  }
}
