package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}
import graft.SparkEntry
import graft.operators.{Envelope, FlattenOps, Flattener, LambdaTransform, Tokenizer, WideColumns}
import graft.sinks.CsvSink
import graft.sources.{GreedyBatcher, Partitions, TarCodec}
import graft.streaming.{KinesisSink, ProducedRecord, PutResult, RecordProducer}

object Files2 {
  /** Regular files under `root` (empty when it does not exist). */
  def files(root: String): Seq[Path] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toVector
      finally s.close()
    }
  }
}

/** Streaming trigger machinery from StreamingQueryProgress reports:
  * medians per trigger that ran a batch. */
object StreamStats {
  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; s(s.size / 2) }

  def record(ctx: Ctx, ps: Seq[StreamingQueryProgress]): Unit = {
    val ran = ps.filter(_.numInputRows > 0)
    def dur(k: String) = median(ran.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)))
    ctx.add("streaming.triggers", ran.size)
    ctx.add("streaming.latest_offset_ms", dur("latestOffset"))
    ctx.add("streaming.query_planning_ms", dur("queryPlanning"))
    ctx.add("streaming.add_batch_ms", dur("addBatch"))
    ctx.add("streaming.wal_commit_ms", dur("walCommit"))
    ctx.add("streaming.commit_offsets_ms", dur("commitOffsets"))
    ctx.add("streaming.rows_per_trigger", median(ran.map(_.numInputRows.toDouble)))
    val srcMetrics = ps.flatMap(_.sources.toSeq).flatMap(s => Option(s.metrics).map(_.asScala.toMap))
    def maxOf(k: String) = srcMetrics.flatMap(_.get(k)).map(_.toDouble).foldLeft(0.0)(math.max(_, _))
    ctx.add("streaming.pacing_lag_ms_max", maxOf("pacingLagMs"))
    ctx.add("streaming.behind_rows_max", maxOf("behindRows"))
  }
}

/** The paper's four stages in one run. Each pass unpacks and flattens
  * the archives (EtlFlatten) and drains the recording through the replay
  * source, lambda transform and Kinesis writer (ReplayProduce); paced
  * phases of the recording follow the passes. */
final class Pipeline extends Workload {
  private val etl = new EtlFlatten
  private val replay = new ReplayProduce
  val maxPasses = 30

  /** Passes run before timing: pass times keep falling for several passes
    * after JVM start while the JIT compiles Spark's planning and stream
    * paths. */
  val WarmupPasses = 2

  def setup(ctx: Ctx): Unit = {
    etl.setup(ctx)
    replay.setup(ctx)
    ctx.tracer.span("session.warmup") {
      (1 to WarmupPasses).foreach { _ => etl.pass(ctx, -1); replay.warm(ctx) }
    }
  }
  def pass(ctx: Ctx, i: Int): Seq[Double] = { etl.pass(ctx, i); replay.pass(ctx, i) }
  override def finale(ctx: Ctx): Seq[Double] = replay.finale(ctx)
  def finish(ctx: Ctx, passes: Int): Unit = { etl.finish(ctx, passes); replay.finish(ctx, passes) }
}

/** Stage 1 (unpack) and stage 2 (flatten) of the telemetry pipeline over
  * seeded tar archives under type=/year=/month=/day= partitions. */
final class EtlFlatten {
  /** The reading types and month the pipeline selects; the generator
    * also writes the other types and month 10, which pruning must skip. */
  val Types = Seq("ACOUSTIC", "vehicleComponent")
  val Month = 11
  /** GreedyBatcher cap in archive bytes (the reference's 128 MB cap,
    * scaled to the input size so each type forms a few batches). */
  val BatchCap: Long = 1024L * 1024

  private def raw(ctx: Ctx) = s"${ctx.inputs}/etl/raw"

  def setup(ctx: Ctx): Unit = {
    val all = Files2.files(raw(ctx)).map(_.getParent).distinct
    ctx.set("sources.partitions_total", all.size)
  }

  /** One pass; `i` < 0 is the warm-up, which counts nothing. */
  def pass(ctx: Ctx, i: Int): Unit = {
    import ctx.spark.implicits._
    val spark = ctx.spark
    val work = s"${ctx.work}/etl"
    val types = Types
    ctx.tracer.span("sources.validate") {
      types.foreach(Partitions.validateArg(_, Partitions.ReadingTypes))
      Partitions.validateArg(f"$Month%02d", Partitions.Months)
    }
    // one pruned listing for every selected partition; content stays unread
    val listing = ctx.tracer.span("sources.scan") {
      spark.read.format("binaryFile").load(raw(ctx))
        .where(col("month") === Month && col("type").isin(types: _*))
        .select(col("path"), col("length"), col("type"))
        .as[(String, Long, String)].collect().sortBy(_._1)
    }
    if (i >= 0) {
      ctx.add("sources.partitions_read", listing.map(_._1.split('/').dropRight(1).mkString("/")).distinct.length)
    }
    for (t <- types) {
      val mine = listing.filter(_._3 == t)
      val batches = ctx.tracer.span("sources.batcher") {
        GreedyBatcher.batches(mine.map(_._2).toSeq, BatchCap)
      }
      if (i >= 0) {
        ctx.add("sources.batches", batches.size)
        ctx.add("sources.batch_bytes", batches.map(_._2).sum.toDouble)
      }
      // stage 1: archive batch → members → envelope → NDJSON
      for (((idx, _), b) <- batches.zipWithIndex) {
        val archives = spark.read.format("binaryFile").load(idx.map(mine(_)._1): _*)
          .select(col("path"), col("content")).as[(String, Array[Byte])]
        val (members, nMembers) = ctx.tracer.span("sources.extract") {
          ctx.materialize(TarCodec.extract(archives))
        }
        val (wrapped, _) = ctx.tracer.span("operators.envelope") {
          ctx.materialize(Envelope.wrap(members, col("content"), lit(t)))
        }
        ctx.tracer.span("sinks.ndjson_write") {
          Envelope.writeNdjson(wrapped, "envelope", s"$work/ndjson/type=$t/batch=$b")
        }
        if (ctx.tracer.enabled) { members.unpersist(); wrapped.unpersist() }
        if (i >= 0 && nMembers >= 0) ctx.add("sources.members", nMembers)
      }
      // stage 2: NDJSON → documents → long-form rows → wide CSV
      val fl = Flattener.forReadingType(t)
      val env = Envelope.parse(spark.read.text(s"$work/ndjson/type=$t"), col("value"))
      val (docs, nDocs) = ctx.tracer.span("operators.tokenize") {
        ctx.materialize(Tokenizer.tokenize(env, col("payload"), fl.endTag, keep = Seq(col("partition_id"))))
      }
      val (flat, nRows) = ctx.tracer.span("operators.flatten") {
        ctx.materialize(FlattenOps.flattenStrict(docs, "xml", fl, Seq("partition_id")))
      }
      // the traced run splits widen into its key scan and its projection
      val (wide, _) =
        if (!ctx.tracer.enabled) (WideColumns.widen(flat, "fields", Seq(col("partition_id"))), -1L)
        else {
          val keys = ctx.tracer.span("operators.widen_keys") { WideColumns.keysOf(flat, "fields") }
          ctx.tracer.span("operators.widen") {
            ctx.materialize(WideColumns.project(flat, "fields", keys, Seq(col("partition_id"))))
          }
        }
      ctx.tracer.span("sinks.csv_write") { CsvSink.write(wide, s"$work/csv/type=$t") }
      if (ctx.tracer.enabled) { docs.unpersist(); flat.unpersist(); wide.unpersist() }
      if (i >= 0 && nDocs >= 0) { ctx.add("operators.docs_in", nDocs); ctx.add("operators.rows_out", nRows) }
    }
    if (i >= 0) ctx.attempted += 1
  }

  def finish(ctx: Ctx, passes: Int): Unit = {
    val n = math.max(passes, 1)
    val work = s"${ctx.work}/etl"
    val written = Files2.files(s"$work/ndjson") ++ Files2.files(s"$work/csv")
    val data = written.filterNot(p => p.getFileName.toString.startsWith(".") || p.getFileName.toString.startsWith("_"))
    // bytes and files one pass leaves behind (each pass overwrites)
    ctx.set("sinks.bytes_written", data.map(Files.size).sum.toDouble)
    ctx.set("sinks.files_written", data.size.toDouble)
    val total = ctx.layers.getOrElse("sources.partitions_total", 1.0)
    ctx.set("sources.partitions_read_frac", ctx.layers.getOrElse("sources.partitions_read", 0.0) / n / total)
    val batches = ctx.layers.getOrElse("sources.batches", 0.0)
    ctx.set("sources.batch_fill",
      if (batches == 0) 0.0 else ctx.layers.getOrElse("sources.batch_bytes", 0.0) / (BatchCap * batches))
    ctx.extra("csv_dir") = Json.str(s"$work/csv")
  }
}

/** Acks every record it is handed, stamping the ack time; stands in for
  * the Kinesis client, with no network. JVM-global, so the ForeachWriter
  * tasks of a local session all report here. */
object AckLog {
  val acks = new ConcurrentLinkedQueue[(String, Array[Byte], Long)]() // key, data, ack epoch µs
  val calls = new AtomicLong()
  val records = new AtomicLong()
  val putNanos = new AtomicLong()
  private val seq = new AtomicLong()

  def reset(): Unit = { acks.clear(); calls.set(0); records.set(0); putNanos.set(0) }

  def nowMicros(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  final class Producer extends RecordProducer {
    def putRecords(stream: String, rs: Seq[ProducedRecord]): Seq[PutResult] = {
      val t0 = System.nanoTime()
      require(rs.size <= maxBatchRecords, s"${rs.size} records in one call")
      val at = nowMicros()
      val out = rs.map { r =>
        acks.add((r.partitionKey, r.data, at))
        PutResult(seq.incrementAndGet().toString, "shardId-0", null, null)
      }
      calls.incrementAndGet()
      records.addAndGet(rs.size.toLong)
      putNanos.addAndGet(System.nanoTime() - t0)
      out
    }
  }
}

/** Stages 3 and 4: a recorded, event-time-stamped stream of base64 signal
  * XML replayed through the graft-replay source, the lambda transform and
  * the Kinesis ForeachWriter. Each pass is one unpaced drain of the
  * recording; paced phases of a thinner recording, at a fixed offered rate
  * well below the micro-batch path's capacity, follow the passes. */
final class ReplayProduce {
  /** Event-time gap multiplier of the paced phase. The paced recording
    * holds groups of PACED_GROUP_RECORDS (2) records every
    * REPLAY_GROUP_GAP_MS (20) event-time ms (perfbench/gen.py), so the
    * offered rate is 2 / (20 × TimeScale) × 1000 = 100 records/s. */
  val TimeScale = 1.0

  private def recording(ctx: Ctx) = s"${ctx.inputs}/replay/recording.parquet"
  /** The paced phases' own, thinner recording. */
  private def pacedRecording(ctx: Ctx) = s"${ctx.inputs}/replay/paced.parquet"
  private var phase = 0

  private def records(ctx: Ctx, path: String, timeScale: Double): org.apache.spark.sql.Dataset[(String, Array[Byte])] = {
    import ctx.spark.implicits._
    val src = ctx.spark.readStream.format("graft-replay")
      .option("path", path)
      .option("tsMillisExpr", "ts").option("keyExpr", "key").option("payloadExpr", "payload")
      .option("timeScale", timeScale.toString)
      .load()
    LambdaTransform.transform(src, col("payload"), keep = Seq(col("partition_key")))
      .select(col("partition_key"),
        to_json(struct(LambdaTransform.Columns.map(col): _*)).cast("binary"))
      .as[(String, Array[Byte])]
  }

  private def count(ctx: Ctx, path: String): Long = ctx.spark.read.parquet(path).count()

  /** Writes this phase's acks as TSV: key, sha256(data), ack epoch µs. */
  private def dumpAcks(ctx: Ctx, name: String): Unit = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val sb = new StringBuilder
    AckLog.acks.asScala.foreach { case (k, d, at) =>
      val h = md.digest(d).map(b => f"${b & 0xff}%02x").mkString
      sb.append(k).append('\t').append(h).append('\t').append(at).append('\n')
    }
    Files.createDirectories(Paths.get(s"${ctx.out}/acks"))
    Files.writeString(Paths.get(s"${ctx.out}/acks/$name.tsv"), sb.toString)
  }

  private def drain(ctx: Ctx): Unit = {
    phase += 1
    val q = records(ctx, recording(ctx), 0.0).writeStream
      .foreach(new KinesisSink.Writer(() => new AckLog.Producer, "bench"))
      .option("checkpointLocation", s"${ctx.work}/ckpt/$phase")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  private var total = 0L
  private var pacedTotal = 0L
  private val drainAcks = mutable.ArrayBuffer.empty[String]
  private val pacedAcks = mutable.ArrayBuffer.empty[String]

  def setup(ctx: Ctx): Unit = {
    total = count(ctx, recording(ctx))
    pacedTotal = count(ctx, pacedRecording(ctx))
  }

  /** An unpaced drain that counts nothing. */
  def warm(ctx: Ctx): Unit = { drain(ctx); AckLog.reset() }

  /** Paced phases after the passes, each over the whole paced
    * recording. A run reports the best phase: interference from other
    * tenants of the machine only ever delays records. */
  val PacedPhases = 2

  /** The paced phases; their latencies are computed from the acks. */
  def finale(ctx: Ctx): Seq[Double] = {
    val anchors = (1 to PacedPhases).map(k => s"paced$k" -> paced(ctx, s"paced$k"))
    // streaming.* are per phase: average the phases' sums
    ctx.layers.keys.filter(_.startsWith("streaming.")).toList.foreach { k =>
      ctx.set(k, ctx.layers(k) / PacedPhases)
    }
    ctx.extra("paced_anchor_ms") = Json.obj(anchors.map { case (n, a) => n -> a.toString })
    ctx.extra("paced_time_scale") = Json.num(TimeScale)
    pacedAcks ++= anchors.map(_._1)
    Nil // latencies are computed from the acks against the paced recording
  }

  /** One paced phase; returns its pacing anchor in epoch ms. */
  private def paced(ctx: Ctx, name: String): Long = {
    AckLog.reset()
    phase += 1
    val before = ctx.streams.count
    val q = ctx.tracer.span("streaming.paced") {
      val q = records(ctx, pacedRecording(ctx), TimeScale).writeStream
        .foreach(new KinesisSink.Writer(() => new AckLog.Producer, "bench"))
        .option("checkpointLocation", s"${ctx.work}/ckpt/$phase")
        .start()
      val deadline = System.currentTimeMillis() + 120000
      while (AckLog.records.get < pacedTotal && System.currentTimeMillis() < deadline && q.isActive)
        Thread.sleep(5)
      q.stop()
      q
    }
    ctx.attempted += pacedTotal
    val ps = ctx.streams.slice(before, ctx.streams.count).filter(_.id == q.id).sortBy(_.batchId)
    StreamStats.record(ctx, ps)
    dumpAcks(ctx, name)
    AckLog.reset()
    // the source anchors its pacing clock when the first trigger's
    // latestOffset returns: trigger start + its latestOffset time
    ps.headOption.map { p0 =>
      java.time.Instant.parse(p0.timestamp).toEpochMilli +
        Option(p0.durationMs.get("latestOffset")).map(_.longValue).getOrElse(0L)
    }.getOrElse(0L)
  }

  def pass(ctx: Ctx, i: Int): Seq[Double] = {
    AckLog.reset()
    ctx.tracer.span("streaming.drain") { drain(ctx) }
    ctx.attempted += total
    ctx.add("sink.put_calls", AckLog.calls.get.toDouble)
    ctx.add("sink.records", AckLog.records.get.toDouble)
    ctx.add("sink.put_ms", AckLog.putNanos.get / 1e6)
    ctx.add("sink.failed", math.max(0L, total - AckLog.records.get).toDouble)
    val name = s"drain$i"
    dumpAcks(ctx, name)
    drainAcks += name
    Nil
  }

  def finish(ctx: Ctx, passes: Int): Unit = {
    if (ctx.tracer.enabled) {
      // The lambda runs inside the drain's tasks, where only the drain as
      // a whole can be timed from outside the engine; this is a batch
      // proxy over the same recording, timed after the timed region.
      val runs = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        ctx.materialize(LambdaTransform.transform(ctx.spark.read.parquet(recording(ctx)),
          col("payload"), keep = Seq(col("key"))))._1.unpersist()
        (System.nanoTime() - t0) / 1e9
      }.sorted
      ctx.set("operators.lambda_s", runs(1))
    }
    val calls = ctx.layers.getOrElse("sink.put_calls", 0.0)
    ctx.set("sink.records_per_call", if (calls == 0) 0.0 else ctx.layers.getOrElse("sink.records", 0.0) / calls)
    ctx.extra("ack_files") = (pacedAcks ++ drainAcks).map(Json.str).mkString("[", ",", "]")
  }
}

/** Registry keys through SparkEntry.queries over seeded documents and
  * embeddings tables; each pass runs every key once and collects its
  * rows. */
final class Registry extends Workload {
  /** A commit-log writer and two commit-log readers. */
  val Keys = Seq("p38_atomic_update", "p23_time_travel", "p29_log_changes")
  val maxPasses = 20
  private val first = mutable.LinkedHashMap.empty[String, Double]
  private val times = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val last = mutable.LinkedHashMap.empty[String, DataFrame]

  private def tables(ctx: Ctx) = s"${ctx.inputs}/tables"

  private def run(ctx: Ctx, key: String): (Double, Array[Row], org.apache.spark.sql.types.StructType) = {
    val t0 = System.nanoTime()
    val df = SparkEntry.queries(key)(ctx.spark, tables(ctx))
    val rows = df.collect()
    ((System.nanoTime() - t0) / 1e9, rows, df.schema)
  }

  /** Rounds of every key run before timing: the first call of a key stages
    * its fixtures from an empty tmpdir, and key times keep falling for
    * several rounds after JVM start while the JIT compiles. */
  val WarmupRounds = 2

  def setup(ctx: Ctx): Unit = ctx.tracer.span("session.warmup") {
    Keys.foreach { k => first(k) = run(ctx, k)._1 }
    (2 to WarmupRounds).foreach { _ => Keys.foreach(run(ctx, _)) }
  }

  /** Each key run is one operation; its latency is the run's wall time. */
  def pass(ctx: Ctx, i: Int): Seq[Double] =
    Keys.map { k =>
      ctx.attempted += 1
      val (s, rows, schema) = ctx.tracer.span(s"queries.$k") { run(ctx, k) }
      times.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += s
      last(k) = ctx.spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      s * 1000.0
    }

  def finish(ctx: Ctx, passes: Int): Unit = {
    val dir = s"${ctx.out}/registry"
    last.foreach { case (k, df) => df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$k") }
    val sql = Keys.map(k => k -> Json.str(SparkEntry.oracleSql(k)))
    Files.writeString(Paths.get(s"$dir/oracle_sql.json"), Json.obj(sql))
    // staging and first-call cost beyond a steady call, summed over keys
    val excess = first.map { case (k, f) =>
      val ts = times.getOrElse(k, mutable.ArrayBuffer(f)).sorted
      f - ts(ts.size / 2)
    }.sum
    ctx.set("session.stage_once_s", excess)
    // commit-log versions present in the run's tmpdir: OCC `NNNNNNNN.commit`
    // files plus parquet commit_log part files
    val tmp = sys.props("java.io.tmpdir")
    val logFiles = Files2.files(tmp).map(_.toString).count { p =>
      p.matches(".*/\\d{8}\\.commit") || (p.contains("/commit_log/") && p.endsWith(".parquet"))
    }
    ctx.set("operators.log_versions_written", logFiles.toDouble)
    ctx.extra("registry_dir") = Json.str(dir)
  }
}
