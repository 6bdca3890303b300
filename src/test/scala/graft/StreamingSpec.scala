package graft

import scala.collection.mutable.ArrayBuffer
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming._

/** SURVEY §5.5 — streaming specs: pacing gaps, first-batch-immediate,
  * per-record error side-output, at-most-once, batch-cap splitting,
  * and the ForeachWriter against an in-proc stub via MemoryStream. */
class StreamingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.local(cores = 4)

  test("replay pacing: first batch immediate, gaps scaled, out-of-order clamped (T1)") {
    import spark.implicits._
    // timestamps in millis with gaps 0 / 500 / 2000
    val df = Seq(
      (1000L, "a1"), (1000L, "a2"), (1500L, "b"), (3500L, "c")
    ).toDF("ts_ms", "payload")
    val sleeps = ArrayBuffer.empty[Long]
    val producer = new InMemoryRecordProducer()
    val stats = Replay.replay(df, col("ts_ms"), "payload", "ACOUSTIC", "s",
      producer, timeScale = 1.0, sleeper = sleeps.append)
    assert(stats.batches == 3)
    assert(stats.records == 4)
    assert(sleeps.toSeq == Seq(500L, 2000L)) // nothing before the first batch
    assert(producer.records.map(_._2).forall(_ == "ACOUSTIC"))
  }

  test("replay: batches grouped by timestamp, produced in ascending order (T2)") {
    import spark.implicits._
    val df = Seq((300L, "late"), (100L, "early"), (200L, "mid")).toDF("ts_ms", "p")
    val producer = new InMemoryRecordProducer()
    Replay.replay(df, col("ts_ms"), "p", "k", "s", producer, timeScale = 0.0)
    assert(producer.records.map(r => new String(r._4, "UTF-8")) == Seq("early", "mid", "late"))
  }

  test("replay: producer exception swallowed — at-most-once (T4)") {
    import spark.implicits._
    val df = Seq((100L, "x"), (200L, "y")).toDF("ts_ms", "p")
    val throwing = new RecordProducer {
      def putRecords(s: String, r: Seq[ProducedRecord]) =
        throw new RuntimeException("service down")
    }
    val stats = Replay.replay(df, col("ts_ms"), "p", "k", "s", throwing, timeScale = 0.0)
    assert(stats.batches == 2 && stats.records == 0) // kept going, nothing delivered
  }

  test("sink: per-record failures surface as side-output, successes stored (K3/T4)") {
    import spark.implicits._
    val df = Seq(("k1", "ok1"), ("k1", "bad1"), ("k2", "ok2"))
      .toDF("partitionKey", "payload")
      .withColumn("data", col("payload").cast("binary")).drop("payload")
    // task closures are serialized even in local mode — observe through a
    // JVM-shared singleton, as a per-executor client pool would be
    val failed = KinesisSink.produce(df.coalesce(1), "s", () => SharedStub.failing).collect()
    assert(failed.length == 1)
    assert(new String(failed.head.getAs[Array[Byte]]("data"), "UTF-8") == "bad1")
    assert(failed.head.getAs[String]("errorCode") == "ProvisionedThroughputExceededException")
    assert(SharedStub.failing.records.map(r => new String(r._4, "UTF-8")).sorted == Seq("ok1", "ok2"))
  }

  test("sink writer: failed epoch discards its partial buffer — no replay duplicates (K3/T4)") {
    val p = new InMemoryRecordProducer()
    val w = new KinesisSink.Writer(() => p, "s")
    w.open(0, 0)
    w.process(("k", "a".getBytes("UTF-8")))
    // Spark retries a failed epoch from its checkpoint; flushing here
    // would emit "a" now AND again on the retry
    w.close(new RuntimeException("task died"))
    assert(p.records.isEmpty, "partial buffer must not be emitted on error close")
    w.open(0, 1) // the retried epoch
    w.process(("k", "a".getBytes("UTF-8")))
    w.close(null)
    assert(p.records.map(r => new String(r._4, "UTF-8")) == Seq("a"),
      "record emitted exactly once across the failed epoch and its retry")
  }

  test("at-least-once flip: transient per-record failures retried in-task, no loss (SURVEY §7.5)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, String)]
    val q = mem.toDS()
      .map { case (k, p) => (k, p.getBytes("UTF-8")) }
      .toDF("partitionKey", "data")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val leftover = KinesisSink.produce(batch, "s", () => SharedStub.flaky, retries = 2).count()
        SharedStub.flakyLeftover.addAndGet(leftover)
        ()
      }
      .start()
    mem.addData(("k1", "r1"), ("k1", "r2"), ("k2", "r3"))
    q.processAllAvailable()
    q.stop()
    assert(SharedStub.flakyLeftover.get() == 0, "retries must clear all transient failures")
    assert(SharedStub.flakyStored.toArray.map(_.toString).sorted.toSeq == Seq("r1", "r2", "r3"),
      "every record delivered exactly once despite every first attempt failing")
  }

  test("sink: batches split at the service cap (K3)") {
    import spark.implicits._
    val df = (1 to 35).map(i => ("k", s"p$i")).toDF("partitionKey", "payload")
      .withColumn("data", col("payload").cast("binary")).drop("payload")
    KinesisSink.produce(df.coalesce(1), "s", () => SharedStub.counting).collect()
    assert(SharedStub.countingCalls.get() == 4) // 10+10+10+5
  }

  test("stream-stream interval join: clicks enriched by errors within 5 minutes") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, Long)] // (user, epochSec)
    val errors = MemoryStream[(Long, Long)]
    def withTs(df: org.apache.spark.sql.DataFrame, u: String, t: String) =
      df.toDF(u, "sec").withColumn(t, timestamp_seconds(col("sec"))).drop("sec")
    val c = withTs(clicks.toDF(), "c_user", "c_ts").withWatermark("c_ts", "10 minutes")
    val e = withTs(errors.toDF(), "e_user", "e_ts").withWatermark("e_ts", "10 minutes")
    val name = s"ssjoin_${System.nanoTime()}"
    val q = c.join(e,
        col("c_user") === col("e_user") &&
        col("e_ts") >= col("c_ts") - expr("INTERVAL 5 MINUTES") &&
        col("e_ts") <= col("c_ts"))
      .writeStream.outputMode("append").format("memory").queryName(name).start()
    val t0 = 1700000000L
    errors.addData((1L, t0), (2L, t0))
    clicks.addData((1L, t0 + 60), (1L, t0 + 400), (3L, t0 + 60)) // 400s > 5 min → no match
    q.processAllAvailable()
    q.stop()
    val got = spark.table(name).select("c_user").as[Long].collect().toSeq
    assert(got == Seq(1L)) // only the click 60s after user 1's error joins
  }

  test("interval join matches across micro-batches (state store crossing)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, Long)]
    val purchases = MemoryStream[(Long, Long)]
    def withTs(df: org.apache.spark.sql.DataFrame, u: String, t: String) =
      df.toDF(u, "sec").withColumn(t, timestamp_seconds(col("sec"))).drop("sec")
    val c = withTs(clicks.toDF(), "c_user", "c_ts").withWatermark("c_ts", "1 hour")
    val p = withTs(purchases.toDF(), "p_user", "p_ts").withWatermark("p_ts", "1 hour")
    val name = s"ssx_${System.nanoTime()}"
    val q = c.join(p,
        col("c_user") === col("p_user") &&
        col("p_ts") >= col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr("INTERVAL 30 MINUTES"))
      .writeStream.outputMode("append").format("memory").queryName(name).start()
    val t0 = 1700000000L
    // batch 1: clicks only — nothing can match yet
    clicks.addData((1L, t0), (2L, t0))
    q.processAllAvailable()
    assert(spark.table(name).count() == 0)
    // batch 2: purchases arrive — user 1's click from batch 1 must
    // still be in the join state and match now
    purchases.addData((1L, t0 + 600), (3L, t0 + 600))
    q.processAllAvailable()
    q.stop()
    val got = spark.table(name).select("c_user").as[Long].collect().toSeq
    assert(got == Seq(1L), s"cross-batch interval match lost: $got")
  }

  test("replay source: groupGranularityMs coarsens ms-unique ts into bucket groups") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_rs_gran").toString
    // 6 millisecond-unique rows in 3 distinct seconds — without
    // coarsening the driver schedule holds 6 groups, with it 3
    Seq((1000L, "a"), (1001L, "b"), (1999L, "c"),
      (2000L, "d"), (2500L, "e"), (4700L, "f"))
      .toDF("ts", "payload").withColumn("key", lit("k"))
      .write.mode("overwrite").parquet(dir)
    val s = new ReplayMicroBatchStream(
      replayOptions(dir, "groupGranularityMs" -> "1000"), clock = () => 0L)
    try {
      // schedule = bucket ends 1999 / 2999 / 4999
      assert(s.reportLatestOffset().asInstanceOf[ReplayOffset].lastTs == 4999L)
      val end = s.latestOffset(ReplayOffset.Start, s.getDefaultReadLimit)
      assert(end.asInstanceOf[ReplayOffset].lastTs == 4999L)
      // one admitted group at a time: first bucket = the 3 rows of second 1
      val s2 = new ReplayMicroBatchStream(
        replayOptions(dir, "groupGranularityMs" -> "1000",
          "maxGroupsPerTrigger" -> "1"), clock = () => 0L)
      try {
        val first = s2.latestOffset(ReplayOffset.Start, s2.getDefaultReadLimit)
        assert(first.asInstanceOf[ReplayOffset].lastTs == 1999L)
        val parts = s2.planInputPartitions(ReplayOffset.Start, first)
        val conf = new org.apache.hadoop.conf.Configuration()
        val rows = parts.flatMap { p =>
          val r = new ReplayPartitionReader(
            p.asInstanceOf[ReplayInputPartition], conf)
          try Iterator.continually(if (r.next()) Some(r.get().getLong(0)) else None)
            .takeWhile(_.isDefined).flatten.toList
          finally r.close()
        }
        assert(rows.sorted.toSeq == Seq(1000L, 1001L, 1999L),
          s"first bucket must carry exactly second-1 rows, got ${rows.toSeq}")
      } finally s2.stop()
    } finally s.stop()
  }

  test("stale replay staging snapshots are pruned; fresh/live/foreign dirs kept") {
    import java.nio.file.{Files, Paths}
    import java.nio.file.attribute.FileTime
    val root = Files.createTempDirectory("graft_prune_test").toString
    val horizon = graft.streaming.ReplaySource.StaleStageMs
    val oldMs = System.currentTimeMillis() - horizon - 3600 * 1000
    def mk(name: String, childAgeMs: Option[Long]): java.nio.file.Path = {
      val d = Paths.get(root, name)
      Files.createDirectories(d)
      childAgeMs.foreach { t =>
        val f = d.resolve("part-0.parquet")
        Files.write(f, Array[Byte](1))
        Files.setLastModifiedTime(f, FileTime.fromMillis(t))
      }
      d
    }
    val orphan = mk("graft_replay_stage_deadbeef", Some(oldMs))
    val fresh = mk("graft_replay_stage_cafe", Some(System.currentTimeMillis()))
    // a LIVE stream's snapshot with stale-looking files (long-running
    // query, write-once parquet + registered in liveDirs) must survive
    val live = mk("graft_replay_stage_live", Some(oldMs))
    graft.streaming.ReplaySource.liveDirs.add(live.toString)
    // a cross-JVM long-runner: parquet files are old but the driver's
    // heartbeat marker is fresh — newest-child staleness keeps it
    val beating = mk("graft_replay_stage_beating", Some(oldMs))
    graft.streaming.ReplaySource.heartbeat(
      beating.toString, spark.sessionState.newHadoopConf())
    // no usable child mtimes (empty dir) → skipped, never guessed at
    val unknown = mk("graft_replay_stage_unknown", None)
    Files.setLastModifiedTime(unknown, FileTime.fromMillis(oldMs))
    val foreign = mk("user_data", Some(oldMs))
    try {
      graft.streaming.ReplaySource.pruneStaleStages(
        root, spark.sessionState.newHadoopConf())
      assert(!Files.exists(orphan), "orphaned snapshot must be pruned")
      assert(Files.exists(fresh), "a fresh snapshot must be kept")
      assert(Files.exists(live), "a live stream's snapshot must be kept however old")
      assert(Files.exists(beating),
        "a heartbeating cross-JVM stream's snapshot must be kept")
      assert(Files.exists(unknown), "unknown-age dirs must be kept, not guessed at")
      assert(Files.exists(foreign), "non-staging directories must never be touched")
    } finally graft.streaming.ReplaySource.liveDirs.remove(live.toString)
  }

  test("windowed agg with watermark drops late data in append mode") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Long)]
    val name = s"late_${System.nanoTime()}"
    val q = mem.toDF().toDF("k", "sec")
      .withColumn("ts", timestamp_seconds(col("sec")))
      .withWatermark("ts", "10 seconds")
      .groupBy(window(col("ts"), "1 minute"), col("k"))
      .agg(count(lit(1)).as("n"))
      .writeStream.outputMode("append").format("memory").queryName(name).start()
    val t0 = 1700000000L
    mem.addData(("a", t0), ("a", t0 + 30))
    q.processAllAvailable()
    mem.addData(("b", t0 + 600)) // advances watermark far past the first window
    q.processAllAvailable()
    mem.addData(("a", t0 + 10)) // late for the (already-closed) first window
    q.processAllAvailable()
    q.stop()
    val got = spark.table(name).select("k", "n").as[(String, Long)].collect().toSet
    assert(got == Set(("a", 2L))) // late record NOT counted; closed window emitted once
  }

  test("streaming dedup: dropDuplicatesWithinWatermark emits each key once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val name = s"sdedup_${System.nanoTime()}"
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val q = mem.toDS()
      .map { case (id, v) => (id, v, new java.sql.Timestamp(base.getTime + id * 1000)) }
      .toDF("id", "v", "ts")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("id")
      .writeStream.outputMode("append").format("memory").queryName(name).start()
    mem.addData((1L, "a"), (2L, "b"), (1L, "a-dup"))
    q.processAllAvailable()
    mem.addData((2L, "b-dup"), (3L, "c"))
    q.processAllAvailable()
    q.stop()
    val got = spark.table(name).select("id").as[Long].collect().sorted.toSeq
    assert(got == Seq(1L, 2L, 3L)) // dups within the watermark dropped
  }

  test("stateful: mapGroupsWithState running counts survive across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val name = s"stateful_${System.nanoTime()}"
    val q = Stateful.runningCounts(mem.toDS())
      .writeStream.outputMode("update").format("memory").queryName(name).start()
    mem.addData("a", "b", "a")
    q.processAllAvailable()
    mem.addData("a", "c")
    q.processAllAvailable()
    q.stop()
    // last emission per key = running total across both batches
    val got = spark.table(name).groupBy($"key").agg(max($"n").as("n"))
      .as[(String, Long)].collect().toMap
    assert(got == Map("a" -> 3L, "b" -> 1L, "c" -> 1L))
  }

  test("ForeachWriter drains a streaming query into the keyed sink (K3 streaming-native)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, String)]
    mem.addData(("ACOUSTIC", "x1"), ("IMPACT", "x2"), ("ACOUSTIC", "x3"))
    val writer = new KinesisSink.Writer(() => SharedStub.producer, "s")
    val q = mem.toDS()
      .map { case (k, p) => (k, p.getBytes("UTF-8")) }
      .writeStream.foreach(writer).start()
    q.processAllAvailable()
    q.stop()
    val got = SharedStub.producer.records.map(r => (r._2, new String(r._4, "UTF-8"))).sorted
    assert(got == Seq(("ACOUSTIC", "x1"), ("ACOUSTIC", "x3"), ("IMPACT", "x2")))
  }

  private def replayOptions(path: String, extra: (String, String)*) = {
    val m = new java.util.HashMap[String, String]()
    m.put("path", path)
    m.put("tsMillisExpr", "ts")
    m.put("keyExpr", "key")
    m.put("payloadExpr", "payload")
    extra.foreach { case (k, v) => m.put(k, v) }
    new org.apache.spark.sql.util.CaseInsensitiveStringMap(m)
  }

  test("replay source: latestOffset admits groups by scaled event-time gaps (T1)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_rs_pace").toString
    // groups at 1000/1500/3500 ms → due offsets 0/500/2500 at timeScale 1
    Seq((1000L, "k", "a"), (1500L, "k", "b"), (3500L, "k", "c"))
      .toDF("ts", "key", "payload").write.mode("overwrite").parquet(dir)
    var now = 10_000L
    val s = new ReplayMicroBatchStream(
      replayOptions(dir, "timeScale" -> "1.0"), clock = () => now)
    def latest(fromTs: Long) =
      s.latestOffset(ReplayOffset(fromTs), s.getDefaultReadLimit)
        .asInstanceOf[ReplayOffset].lastTs
    val start = Long.MinValue
    assert(latest(start) == 1000L, "first group must be admitted immediately")
    now = 10_400L
    assert(latest(start) == 1000L, "second group not due before its 500ms gap")
    now = 10_600L
    assert(latest(start) == 1500L)
    now = 12_600L
    assert(latest(start) == 3500L, "all groups due after the cumulative 2500ms")

    // restart: a fresh stream re-anchors its wall clock to the restored
    // offset, so the remaining schedule keeps its pacing shape
    val s2 = new ReplayMicroBatchStream(
      replayOptions(dir, "timeScale" -> "1.0"), clock = () => now)
    now = 50_000L
    val resumed = s2.latestOffset(ReplayOffset(1500L), s2.getDefaultReadLimit)
      .asInstanceOf[ReplayOffset].lastTs
    assert(resumed == 1500L, "group 3 must wait its 2000ms gap after restart")
    now = 52_000L
    assert(s2.latestOffset(ReplayOffset(1500L), s2.getDefaultReadLimit)
      .asInstanceOf[ReplayOffset].lastTs == 3500L)

    // admission cap bounds a backlog drain
    val s3 = new ReplayMicroBatchStream(
      replayOptions(dir, "maxGroupsPerTrigger" -> "1"), clock = () => now)
    assert(s3.latestOffset(ReplayOffset(start), s3.getDefaultReadLimit)
      .asInstanceOf[ReplayOffset].lastTs == 1000L)

    // ReadMaxRows caps admitted groups by cumulative row count
    val s4 = new ReplayMicroBatchStream(replayOptions(dir), clock = () => now)
    assert(s4.latestOffset(ReplayOffset(start),
        org.apache.spark.sql.connector.read.streaming.ReadLimit.maxRows(2))
      .asInstanceOf[ReplayOffset].lastTs == 1500L,
      "maxRows=2 admits the first two single-row groups")
    s.stop(); s2.stop(); s3.stop(); s4.stop()
  }

  /** A fresh 1000-row recording (ts 0..999, payload p<ts>) and an
    * empty staging root beside it. */
  private def thousandRows(): (String, String) = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_rs_plan").toString
    (0 until 1000).map(i => (i.toLong, s"k${i % 3}", s"p$i"))
      .toDF("ts", "key", "payload").write.mode("overwrite").parquet(dir)
    (dir, java.nio.file.Files.createTempDirectory("graft_rs_stage").toString)
  }

  /** The parquet files a stream staged under `stageRoot`, as paths. */
  private def stagedFiles(stageRoot: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(stageRoot))
    try s.iterator().asScala.map(_.toString).filter(_.endsWith(".parquet")).toSeq.sorted
    finally s.close()
  }

  private def filePath(f: String): String = new org.apache.hadoop.fs.Path(f).toUri.getPath

  /** Payloads `factory`'s readers return for `parts`. */
  private def readAll(factory: org.apache.spark.sql.connector.read.PartitionReaderFactory,
      parts: Seq[org.apache.spark.sql.connector.read.InputPartition]): Seq[String] =
    parts.flatMap { p =>
      val r = factory.createReader(p)
      val buf = ArrayBuffer.empty[String]
      try while (r.next()) buf += r.get().getUTF8String(2).toString
      finally r.close()
      buf
    }

  test("replay source: partitions carry file ranges, rows read executor-side") {
    val n = 1000
    val (dir, stageRoot) = thousandRows()
    val s = new ReplayMicroBatchStream(replayOptions(dir, "stagingDir" -> stageRoot))
    val end = s.latestOffset(ReplayOffset.Start, s.getDefaultReadLimit)
    val parts = s.planInputPartitions(ReplayOffset.Start, end)
    val cores = spark.sparkContext.defaultParallelism
    assert(parts.length <= cores,
      s"a full admission must plan <= $cores partitions, got ${parts.length}")
    // each staged file is owned by exactly one partition
    val rps = parts.map(_.asInstanceOf[ReplayInputPartition])
    assert(rps.map(p => filePath(p.file)).sorted.toSeq == stagedFiles(stageRoot),
      s"every staged file must appear in exactly one partition: ${rps.map(_.file).toSeq}")
    // the readers themselves must return every row exactly once
    val seen = readAll(s.createReaderFactory(), rps.toSeq)
    assert(seen.length == n)
    assert(seen.toSet == (0 until n).map(i => s"p$i").toSet)
    s.stop()
  }

  test("replay source: a one-group paced admission plans exactly one partition") {
    val (dir, stageRoot) = thousandRows()
    val s = new ReplayMicroBatchStream(
      replayOptions(dir, "stagingDir" -> stageRoot, "maxGroupsPerTrigger" -> "1"))
    try {
      assert(stagedFiles(stageRoot).isEmpty)
      s.reportLatestOffset() // stage
      assert(stagedFiles(stageRoot).size > 1, "the fixture must stage several files")
      val factory = s.createReaderFactory()
      // a range-partitioned group lies inside one staged file, wherever
      // the file boundaries fell
      Seq(0L, 1L, 249L, 250L, 251L, 500L, 750L, 999L).foreach { ts =>
        val start = if (ts == 0L) ReplayOffset.Start else ReplayOffset(ts - 1)
        val end = s.latestOffset(start, s.getDefaultReadLimit)
        assert(end == ReplayOffset(ts))
        val parts = s.planInputPartitions(start, end)
        assert(parts.length == 1, s"group $ts planned ${parts.length} partitions")
        assert(readAll(factory, parts.toSeq) == Seq(s"p$ts"))
      }
    } finally s.stop()
  }

  /** Rows `ts_ms` → wall ms at which `r` returned them, in read order. */
  private def readTimed(r: ReplayPartitionReader): Seq[(Long, Long)] = {
    val buf = ArrayBuffer.empty[(Long, Long)]
    try while (r.next()) buf += ((r.get().getLong(0), System.currentTimeMillis()))
    finally r.close()
    buf.toSeq
  }

  /** Groups 0, 100, …, 900 ms of one row each, under `stageRoot`. */
  private def tenGroups(): (String, String) = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_rs_lead").toString
    (0 until 10).map(i => (i * 100L, "k", s"p$i"))
      .toDF("ts", "key", "payload").write.mode("overwrite").parquet(dir)
    (dir, java.nio.file.Files.createTempDirectory("graft_rs_lead_stage").toString)
  }

  /** Reports `leadMs` as one paced trigger's admission-to-read delay,
    * the way a task does: a reader built from a partition whose
    * admission time lies `leadMs` in the past. */
  private def reportLead(s: ReplayMicroBatchStream, part: ReplayInputPartition, leadMs: Long): Unit =
    s.createReaderFactory().createReader(
      part.copy(admittedAtMs = System.currentTimeMillis() - leadMs)).close()

  test("replay source: a paced admission looks ahead by the measured lead; only groups not yet due are held") {
    val (dir, stageRoot) = tenGroups()
    var now = 10_000L
    val s = new ReplayMicroBatchStream(
      replayOptions(dir, "timeScale" -> "1.0", "stagingDir" -> stageRoot), clock = () => now)
    try {
      def admit(from: Long) = s.latestOffset(ReplayOffset(from), s.getDefaultReadLimit)
        .asInstanceOf[ReplayOffset].lastTs
      assert(admit(Long.MinValue) == 0L, "lead is 0 before any read: only group 0 is due")
      val first = s.planInputPartitions(ReplayOffset.Start, ReplayOffset(0L))
        .map(_.asInstanceOf[ReplayInputPartition])
      assert(first.forall(p => p.admittedAtMs == 10_000L && p.heldTs.isEmpty))
      reportLead(s, first.head, 250L)
      now = 10_120L // elapsed 120 ms; with the ≈ 250 ms lead the horizon is ≈ 370 ms
      assert(admit(0L) == 300L, "groups due ≤ elapsed + lead (100, 200, 300) are admitted")
      val lead = s.metrics(java.util.Optional.of(ReplayOffset(0L))).get("admitLeadMs").toLong
      assert(lead >= 250L && lead < 280L, s"admitLeadMs = $lead")
      val parts = s.planInputPartitions(ReplayOffset(0L), ReplayOffset(300L))
        .map(_.asInstanceOf[ReplayInputPartition])
      assert(parts.nonEmpty)
      parts.foreach { p =>
        assert(p.admittedAtMs == 10_120L)
        // group 100 was due at 10_100: it is not held
        assert(p.heldAfterTs == 100L)
        assert(p.heldTs.toSeq == Seq(200L, 300L))
        assert(p.releaseAtMs.toSeq == Seq(10_200L, 10_300L))
      }
    } finally s.stop()
  }

  test("replay reader returns no row of a held group before its release time, rows in ts order") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_rs_hold").toString
    // one file, six rows in three groups of two (group keys 0, 1, 2)
    Seq(0L, 0L, 1L, 1L, 2L, 2L).zipWithIndex.map { case (ts, i) => (ts, "k", s"p$i") }
      .toDF("ts_ms", "partition_key", "payload")
      .coalesce(1).sortWithinPartitions("ts_ms").write.mode("overwrite").parquet(dir)
    val file = stagedFiles(dir).head
    val t0 = System.currentTimeMillis()
    val p = ReplayInputPartition(file, Long.MinValue, 2L, admittedAtMs = t0,
      heldAfterTs = 0L, heldTs = Array(1L, 2L), releaseAtMs = Array(t0 + 100L, t0 + 200L))
    val rows = readTimed(new ReplayPartitionReader(p, spark.sessionState.newHadoopConf()))
    assert(rows.map(_._1) == Seq(0L, 0L, 1L, 1L, 2L, 2L), s"rows out of ts order: $rows")
    rows.foreach { case (ts, at) =>
      if (ts >= 1L) assert(at >= t0 + ts * 100L, s"group $ts returned ${at - t0} ms after t0")
    }
    assert(rows.head._2 < t0 + 100L, "group 0 is not held")
  }

  test("replay source: one slow trigger does not widen the lead (least delay over the window)") {
    val (dir, stageRoot) = tenGroups()
    val now = 10_000L
    val s = new ReplayMicroBatchStream(
      replayOptions(dir, "timeScale" -> "1.0", "stagingDir" -> stageRoot), clock = () => now)
    try {
      def admit() = s.latestOffset(ReplayOffset.Start, s.getDefaultReadLimit)
        .asInstanceOf[ReplayOffset].lastTs
      assert(admit() == 0L)
      val part = s.planInputPartitions(ReplayOffset.Start, ReplayOffset(0L)).head
        .asInstanceOf[ReplayInputPartition]
      // four paced triggers read: 30 ms, then one 1 s straggler, then 30 ms twice
      Seq(30L, 1000L, 30L, 30L).foreach { lead =>
        reportLead(s, part, lead)
        admit()
      }
      val lead = s.metrics(java.util.Optional.empty[org.apache.spark.sql.connector.read.streaming.Offset]())
        .get("admitLeadMs").toLong
      assert(lead >= 30L && lead < 100L, s"admitLeadMs = $lead, not the 30 ms of the window's least")
      // elapsed 0: a ≈ 30 ms lead admits group 0 only; a 1 s lead would admit all ten
      assert(admit() == 0L)
    } finally s.stop()
  }

  test("replay source: unpaced and AvailableNow triggers plan plain partitions and no accumulator") {
    val (dir, stageRoot) = thousandRows()
    val drains = Seq(
      new ReplayMicroBatchStream(replayOptions(dir, "stagingDir" -> stageRoot)),
      {
        val s = new ReplayMicroBatchStream(
          replayOptions(dir, "timeScale" -> "1.0", "stagingDir" -> stageRoot))
        s.prepareForTriggerAvailableNow()
        s
      })
    try drains.foreach { s =>
      val end = s.latestOffset(ReplayOffset.Start, s.getDefaultReadLimit)
      assert(end == ReplayOffset(999L), "a drain admits every group")
      val parts = s.planInputPartitions(ReplayOffset.Start, end)
        .map(_.asInstanceOf[ReplayInputPartition])
      assert(parts.nonEmpty)
      parts.foreach(p => assert(p == ReplayInputPartition(p.file, Long.MinValue, 999L),
        s"a drain partition carries pacing fields: $p"))
      val factory = s.createReaderFactory().asInstanceOf[ReplayReaderFactory]
      assert(factory.lead.isEmpty, "a drain registers no accumulator")
      assert(readAll(factory, parts.toSeq).size == 1000)
      assert(s.metrics(java.util.Optional.of(end)).get("admitLeadMs") == "0")
    } finally drains.foreach(_.stop())
  }

  test("replay partitions with release times round-trip through the Kryo and Java serializers") {
    import org.apache.spark.serializer.{JavaSerializer, KryoSerializer}
    import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
    val (dir, stageRoot) = tenGroups()
    var now = 10_000L
    val s = new ReplayMicroBatchStream(
      replayOptions(dir, "timeScale" -> "1.0", "stagingDir" -> stageRoot), clock = () => now)
    try {
      s.latestOffset(ReplayOffset.Start, s.getDefaultReadLimit)
      now = 10_950L
      val end = s.latestOffset(ReplayOffset(0L), s.getDefaultReadLimit)
      now = 10_450L // planned while groups 500 … 900 are not yet due
      val parts = s.planInputPartitions(ReplayOffset(0L), end)
        .map(_.asInstanceOf[ReplayInputPartition]).toSeq
      assert(parts.exists(_.heldTs.toSeq == Seq(500L, 600L, 700L, 800L, 900L)))
      def fields(p: ReplayInputPartition) = (p.file, p.tsLoExclusive, p.tsHiInclusive,
        p.admittedAtMs, p.heldAfterTs, p.heldTs.toSeq, p.releaseAtMs.toSeq)
      val conf = spark.sparkContext.getConf
      Seq(new KryoSerializer(conf), new JavaSerializer(conf)).foreach { ser =>
        val inst = ser.newInstance()
        parts.foreach { p =>
          val back = inst.deserialize[InputPartition](inst.serialize[InputPartition](p))
            .asInstanceOf[ReplayInputPartition]
          assert(fields(back) == fields(p), s"${ser.getClass.getSimpleName} changed $p")
        }
      }
      // tasks ship the paced factory, accumulator included, with the
      // Java closure serializer; its holds are long past, so it reads
      // at once
      val inst = new JavaSerializer(conf).newInstance()
      val factory = s.createReaderFactory()
      val back = inst.deserialize[PartitionReaderFactory](inst.serialize(factory))
      assert(readAll(back, parts).sorted == (1 until 10).map(i => s"p$i"))
    } finally s.stop()
  }

  test("paced replay query: every record once, and the measured lead reaches the source") {
    import spark.implicits._
    val dataDir = java.nio.file.Files.createTempDirectory("graft_rs_paced").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_rs_paced_ckpt").toString
    // 20 groups of 2 rows, 20 ms apart: a 380 ms schedule at timeScale 1
    (0 until 40).map(i => ((i / 2) * 20L, "k", f"p$i%02d")).toDF("ts", "key", "payload")
      .write.mode("overwrite").parquet(dataDir)
    val q = spark.readStream.format("graft-replay")
      .option("path", dataDir).option("tsMillisExpr", "ts")
      .option("keyExpr", "key").option("payloadExpr", "payload")
      .option("timeScale", "1.0")
      .load()
      .writeStream.option("checkpointLocation", ckpt)
      .foreach(SharedStub.pacedCollector)
      .start()
    try {
      // the last batch's progress reports an empty backlog; stopping at
      // the 40th record alone could drop the only progress that carries
      // a lookahead (a cold first trigger leaves one batch for the rest)
      def drained = Option(q.lastProgress).exists(_.sources.exists(s =>
        s.metrics != null && s.metrics.get("behindRows") == "0"))
      val deadline = System.currentTimeMillis() + 60000
      while ((SharedStub.paced.size < 40 || !drained) && System.currentTimeMillis() < deadline)
        Thread.sleep(10)
    } finally q.stop()
    val got = SharedStub.paced.toArray.map(_.toString).toVector
    assert(got.sorted == (0 until 40).map(i => f"p$i%02d").toVector, s"paced replay got $got")
    val leads = q.recentProgress.flatMap(_.sources.headOption)
      .flatMap(s => Option(s.metrics)).flatMap(m => Option(m.get("admitLeadMs"))).map(_.toLong)
    assert(leads.exists(_ > 0L),
      s"no admission looked ahead: the tasks' delays never reached the driver (${leads.toSeq})")
  }

  test("replay reader factory round-trips through the Kryo and Java serializers") {
    import org.apache.spark.serializer.{JavaSerializer, KryoSerializer}
    import org.apache.spark.sql.connector.read.PartitionReaderFactory
    // local mode never ships a reader factory to another JVM, so the
    // executor-side deserialization is exercised here by hand
    val (dir, stageRoot) = thousandRows()
    val s = new ReplayMicroBatchStream(replayOptions(dir, "stagingDir" -> stageRoot))
    try {
      val end = s.latestOffset(ReplayOffset.Start, s.getDefaultReadLimit)
      val parts = s.planInputPartitions(ReplayOffset.Start, end).toSeq
      val factory = s.createReaderFactory()
      val want = readAll(factory, parts).sorted
      assert(want.size == 1000)
      val conf = spark.sparkContext.getConf
      Seq(new KryoSerializer(conf), new JavaSerializer(conf)).foreach { ser =>
        val inst = ser.newInstance()
        val back = inst.deserialize[PartitionReaderFactory](inst.serialize(factory))
        assert(readAll(back, parts).sorted == want,
          s"${ser.getClass.getSimpleName} round trip changed the rows")
      }
    } finally s.stop()
  }

  test("replay source: stop() destroys the stream's conf broadcast") {
    val (dir, stageRoot) = thousandRows()
    val s = new ReplayMicroBatchStream(replayOptions(dir, "stagingDir" -> stageRoot))
    val end = s.latestOffset(ReplayOffset.Start, s.getDefaultReadLimit)
    val parts = s.planInputPartitions(ReplayOffset.Start, end).toSeq
    val factory = s.createReaderFactory()
    assert(readAll(factory, parts).size == 1000)
    s.stop()
    val e = intercept[org.apache.spark.SparkException](factory.createReader(parts.head))
    assert(e.getMessage.contains("destroyed"), e.getMessage)
  }

  test("starting and stopping several replay streams leaves no broadcast block behind") {
    import org.apache.spark.sql.graft.Internals
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    val sc = spark.sparkContext
    val (dir, stageRoot) = thousandRows()
    val streams = (1 to 3).map(_ =>
      new ReplayMicroBatchStream(replayOptions(dir, "stagingDir" -> stageRoot)))
    // stage first: the staging jobs' own task broadcasts are not the
    // streams' and are cleaned on the context cleaner's schedule
    streams.foreach(_.reportLatestOffset())
    val before = Internals.broadcastBlocks(sc)
    try {
      streams.foreach { s =>
        val end = s.latestOffset(ReplayOffset.Start, s.getDefaultReadLimit)
        val parts = s.planInputPartitions(ReplayOffset.Start, end).toSeq
        // every trigger builds a factory; only the first broadcasts
        (1 to 3).foreach(_ => assert(readAll(s.createReaderFactory(), parts).size == 1000))
      }
      val held = Internals.broadcastBlocks(sc) -- before
      assert(held.count(!_.contains("_piece")) == streams.size,
        s"each stream must hold exactly one conf broadcast: $held")
    } finally streams.foreach(_.stop())
    // destroy() removes blocks asynchronously
    eventually(timeout(10.seconds), interval(50.millis)) {
      val left = Internals.broadcastBlocks(sc) -- before
      assert(left.isEmpty, s"stopped streams left broadcast blocks: $left")
    }
  }

  test("replay and log-feed readers open their files without loading Hadoop default resources") {
    import spark.implicits._
    val (dir, stageRoot) = thousandRows()
    val feedDir = java.nio.file.Files.createTempDirectory("graft_lf_conf").toString
    Seq((1L, "en", 5L), (2L, "de", 7L)).toDF("doc_id", "lang", "n_chars")
      .write.mode("overwrite").parquet(feedDir)
    val s = new ReplayMicroBatchStream(replayOptions(dir, "stagingDir" -> stageRoot))
    try {
      val end = s.latestOffset(ReplayOffset.Start, s.getDefaultReadLimit)
      val parts = s.planInputPartitions(ReplayOffset.Start, end).toSeq
        .map(_.asInstanceOf[ReplayInputPartition])
      val feed = LogFeedInputPartition(3, "insert", stagedFiles(feedDir).toArray)
      // the executor's conf, loaded before the counting window opens
      val conf = spark.sessionState.newHadoopConf()
      conf.size()
      // a Configuration reads its default resources through the context
      // class loader it was built under
      val loader = new DefaultResourceCounter(Thread.currentThread().getContextClassLoader)
      val prev = Thread.currentThread().getContextClassLoader
      Thread.currentThread().setContextClassLoader(loader)
      val (payloads, changes) = try {
        val payloads = parts.flatMap { p =>
          val r = new ReplayPartitionReader(p, conf)
          val buf = ArrayBuffer.empty[String]
          try while (r.next()) buf += r.get().getUTF8String(2).toString
          finally r.close()
          buf
        }
        val r = new LogFeedPartitionReader(feed, conf)
        val buf = ArrayBuffer.empty[(Long, String, Long)]
        try while (r.next()) {
          val row = r.get()
          buf += ((row.getLong(2), row.getUTF8String(3).toString, row.getLong(4)))
        } finally r.close()
        (payloads, buf.toSeq)
      } finally Thread.currentThread().setContextClassLoader(prev)
      assert(payloads.sorted == (0 until 1000).map(i => s"p$i").sorted)
      assert(changes.sorted == Seq((1L, "en", 5L), (2L, "de", 7L)))
      assert(loader.hits.get == 0,
        s"readers looked up Hadoop default resources ${loader.hits.get} times: " +
          "some reader built a Configuration of its own")
    } finally s.stop()
  }

  test("upsert sink: batch replay after a crash is absorbed, not double-counted") {
    import spark.implicits._
    import graft.streaming.UpsertSink
    val stateDir = java.nio.file.Files.createTempDirectory("graft_upsert").toString
    def incr(rows: (String, Long, BigDecimal)*) =
      rows.toSeq.toDF("key", "n", "sv")
        .select(col("key"), col("n"), col("sv").cast("decimal(28,4)").as("sv"))
    assert(UpsertSink.merge(spark, stateDir, incr(("a", 2L, BigDecimal(10))), 0L))
    assert(UpsertSink.merge(spark, stateDir,
      incr(("a", 1L, BigDecimal(5)), ("b", 3L, BigDecimal(7))), 1L))
    def state() = UpsertSink.readState(spark, stateDir)
      .as[(String, Long, BigDecimal)].collect().sortBy(_._1).toSeq
      .map { case (k, n, sv) => (k, n, sv.toLong) }
    val after = state()
    assert(after == Seq(("a", 3L, 15L), ("b", 3L, 7L)))
    // checkpoint replay: the sink must report "already applied" and
    // leave the state bit-identical
    assert(!UpsertSink.merge(spark, stateDir, incr(("a", 1L, BigDecimal(5))), 1L))
    assert(state() == after, "replayed batch mutated the state")
    // and a genuinely new batch still applies
    assert(UpsertSink.merge(spark, stateDir, incr(("b", 1L, BigDecimal(1))), 2L))
    assert(state() == Seq(("a", 3L, 15L), ("b", 4L, 8L)))
    // crash window 1: snapshot v2 completed but the ledger marker never
    // landed — the replay must see commit evidence in the snapshot id
    // itself and NOT re-merge (the old pointer-swap design lost this)
    java.nio.file.Files.delete(java.nio.file.Paths.get(stateDir, "committed", "2"))
    assert(!UpsertSink.merge(spark, stateDir, incr(("b", 1L, BigDecimal(1))), 2L),
      "marker-less replay of a completed snapshot re-applied the batch")
    assert(state() == Seq(("a", 3L, 15L), ("b", 4L, 8L)))
    // crash window 2: a half-written snapshot (no _SUCCESS) must be
    // invisible to readers and to the next merge's base resolution
    val junk = java.nio.file.Paths.get(stateDir, "v9")
    java.nio.file.Files.createDirectory(junk)
    java.nio.file.Files.write(junk.resolve("part-junk.parquet"), Array[Byte](1, 2, 3))
    assert(state() == Seq(("a", 3L, 15L), ("b", 4L, 8L)),
      "reader resolved an incomplete snapshot")
    assert(UpsertSink.merge(spark, stateDir, incr(("a", 1L, BigDecimal(1))), 3L))
    assert(state() == Seq(("a", 4L, 16L), ("b", 4L, 8L)))
  }

  test("replay source: checkpointed restart resumes with no loss and no re-emission") {
    import spark.implicits._
    val dataDir = java.nio.file.Files.createTempDirectory("graft_rs_data").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_rs_ckpt").toString
    def run(): Unit = {
      val q = spark.readStream.format("graft-replay")
        .option("path", dataDir).option("tsMillisExpr", "ts")
        .option("keyExpr", "key").option("payloadExpr", "payload")
        .load()
        .writeStream.option("checkpointLocation", ckpt)
        .foreach(SharedStub.replayCollector)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    (0 until 10).map(i => (i * 100L, "k", f"p$i%02d")).toDF("ts", "key", "payload")
      .write.mode("append").parquet(dataDir)
    run()
    val afterA = SharedStub.replayed.toArray.map(_.toString).toVector
    assert(afterA.sorted == (0 until 10).map(i => f"p$i%02d").toVector, s"run A got $afterA")
    // a later recording lands in the same directory; the restarted
    // query must emit ONLY the new groups
    (10 until 20).map(i => (i * 100L, "k", f"p$i%02d")).toDF("ts", "key", "payload")
      .write.mode("append").parquet(dataDir)
    run()
    val afterB = SharedStub.replayed.toArray.map(_.toString).toVector
    assert(afterB.sorted == (0 until 20).map(i => f"p$i%02d").toVector,
      s"restart must add exactly the new groups, got $afterB")
    // every offset-WAL and commit-log entry the restart read back carries
    // its checksum
    for (log <- Seq("offsets", "commits")) {
      val names = new java.io.File(s"$ckpt/$log").list().toSet
      val ids = names.filter(_.forall(_.isDigit))
      assert(ids.size >= 2 && ids.forall(id => names(s".$id.crc")), s"$log: $names")
    }
  }

  test("replay source: row cap bounds every batch under a backlog; lag metrics drain") {
    import spark.implicits._
    val dataDir = java.nio.file.Files.createTempDirectory("graft_rs_bl_data").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_rs_bl_ckpt").toString
    // a cold start against 30 already-recorded groups of 2 rows each is
    // exactly the restart-against-backlog shape: with timeScale=0 every
    // group is admissible in trigger one, so only the row cap stands
    // between the stream and a 60-row first batch
    (0 until 60).map(i => ((i / 2) * 100L, "k", f"p$i%02d")).toDF("ts", "key", "payload")
      .write.mode("append").parquet(dataDir)
    val batchSizes = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val lastMetrics = new java.util.concurrent.atomic.AtomicReference[java.util.Map[String, String]]()
    val q = spark.readStream.format("graft-replay")
      .option("path", dataDir).option("tsMillisExpr", "ts")
      .option("keyExpr", "key").option("payloadExpr", "payload")
      .option("maxRowsPerTrigger", "7")
      .load()
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        batchSizes.add(b.count()); ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q.recentProgress.flatMap(p => p.sources.headOption).foreach { s =>
      if (s.metrics != null && !s.metrics.isEmpty) lastMetrics.set(s.metrics)
    }
    val sizes = batchSizes.toArray.map(_.toString.toLong).toVector
    assert(sizes.sum == 60, s"backlog drain lost rows: $sizes")
    // 2-row groups against a 7-row budget → whole-group packing admits
    // at most 3 groups (6 rows) per batch; nothing may exceed the cap
    assert(sizes.forall(_ <= 7), s"a batch exceeded the row cap: $sizes")
    assert(sizes.length >= 10, s"expected the backlog to drain over many batches: $sizes")
    // the source reports its backlog position; after the final batch
    // the unconsumed remainder is zero
    val m = lastMetrics.get()
    assert(m != null, "no source metrics reported")
    assert(m.get("behindRows") == "0" && m.get("behindGroups") == "0",
      s"drained stream still reports backlog: $m")
  }

  // s05 is the one query whose sink path serializes a producer THUNK
  // into tasks (KinesisSink.produce's `() => S05.producer(key)`) — the
  // exact shape that breaks if shared sink state ever moves back to
  // trait level (the r12 split incident: a trait-member object made
  // the thunk capture the whole facade, Task-not-serializable, and
  // ONLY the Verify gate caught it). This smoke test makes that a
  // unit failure: converged end-to-end counts per partition key, with
  // the fault injector exercising the retry path.
  test("s05: streamed pipeline with retries converges (producer-thunk serialization smoke)") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val got = graft.queries.StreamingQueries.s05StreamPipeline(spark, dir)
      .select(col("partition_id"), col("n")).as[(String, Long)].collect().toMap
    val want = Tables.events(spark, dir)
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    assert(got == want, "streamed pipeline sink diverged from the batch counts")
  }

  // s14 streams the increment into the index in four micro-batches;
  // the one-shot a12 update is the ground truth. Equality pins that
  // batch boundaries leave no trace in the index (same codes, same
  // search answer); the coverage check pins exactly-once ingest (a
  // duplicated or dropped batch would surface as a dup/missing id).
  test("s14: streamed ANN ingest ≡ one-shot a12 update; increment ingested exactly once") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val got = graft.queries.StreamingQueries.s14StreamAnnIngest(spark, dir).collect().toSeq
    val oneShot = graft.queries.AnalyticsQueries.a12PqIndexUpdate(spark, dir).collect().toSeq
    assert(got == oneShot, "micro-batched ingest diverged from the one-shot update")
    val codes = spark.read.parquet(
      graft.queries.PipelineQueries.staging("s14", dir) + "/codes")
    val ids = codes.select(col("vec_id")).as[Long].collect().sorted.toSeq
    val odd = spark.read.parquet(s"$dir/embeddings.parquet")
      .filter(col("vec_id") % 2 === 1).select(col("vec_id")).as[Long].collect().sorted.toSeq
    assert(ids == odd, "ingested codes must cover the increment exactly once")
    // four staged files → the ingest really was micro-batched
    assert(codes.select(col("batch")).distinct().count() == 4,
      "expected the increment to arrive over four micro-batches")
  }

  // s15 streams the delete set in four micro-batches; the one-shot
  // a16 soft-delete search is the ground truth. Equality pins that
  // delete batch boundaries leave no trace in what search sees; the
  // coverage check pins an exactly-once delete set (a dropped batch
  // would leave deleted ids findable).
  test("s15: streamed deletes ≡ one-shot a16 search; delete set applied exactly once") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val got = graft.queries.StreamingQueries.s15StreamDeletes(spark, dir).collect().toSeq
    val oneShot = graft.queries.AnalyticsQueries.a16TombstoneSearch(spark, dir).collect().toSeq
    assert(got == oneShot, "streamed deletes diverged from the one-shot soft-delete search")
    val tombs = spark.read.parquet(
      graft.queries.PipelineQueries.staging("s15", dir) + "/tombstones")
    val ids = tombs.select(col("vec_id")).as[Long].collect().sorted.toSeq
    val expected = spark.read.parquet(s"$dir/embeddings.parquet")
      .filter(col("vec_id") % 7 === 3).select(col("vec_id")).as[Long].collect().sorted.toSeq
    assert(ids == expected, "streamed tombstones must cover the delete set exactly once")
    assert(tombs.select(col("batch")).distinct().count() == 4,
      "expected the delete set to arrive over four micro-batches")
  }

  test("s16: streamed export ≡ batch export; shards arrive over four " +
    "batches and cover the corpus exactly once") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val got = graft.queries.StreamingQueries.s16StreamExport(spark, dir).collect().toSeq
    val batch = graft.queries.AnalyticsQueries.p20ExportManifest(spark, dir).collect().toSeq
    assert(got == batch, "streamed export reconciliation diverged from the batch export")
    assert(got.forall(_.getBoolean(4)), "streamed export must reconcile clean")
    val data = spark.read.parquet(
      graft.queries.PipelineQueries.staging("s16", dir) + "/export/data")
    assert(data.select(col("batch")).distinct().count() == 4,
      "expected the export to land over four micro-batches")
    val ids = data.select(col("doc_id")).as[Long].collect().sorted.toSeq
    val expected = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id")).as[Long].collect().sorted.toSeq
    assert(ids == expected, "streamed export must cover the corpus exactly once")
  }
}

/** Counts lookups of Hadoop's default resource files. */
final class DefaultResourceCounter(parent: ClassLoader) extends ClassLoader(parent) {
  val hits = new java.util.concurrent.atomic.AtomicInteger()
  override def getResource(name: String): java.net.URL = {
    if (name == "core-default.xml" || name == "core-site.xml") hits.incrementAndGet()
    super.getResource(name)
  }
}

/** Tasks/writers run in executor threads (same JVM in local mode) with
  * serialized closures; shared objects let tests observe what they
  * produced. */
object SharedStub {
  val producer = new InMemoryRecordProducer()
  val replayed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  val replayCollector: org.apache.spark.sql.ForeachWriter[org.apache.spark.sql.Row] =
    new org.apache.spark.sql.ForeachWriter[org.apache.spark.sql.Row] {
      def open(partitionId: Long, epochId: Long): Boolean = true
      def process(r: org.apache.spark.sql.Row): Unit =
        replayed.add(r.getAs[String]("payload"))
      def close(errorOrNull: Throwable): Unit = ()
    }
  val paced = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  val pacedCollector: org.apache.spark.sql.ForeachWriter[org.apache.spark.sql.Row] =
    new org.apache.spark.sql.ForeachWriter[org.apache.spark.sql.Row] {
      def open(partitionId: Long, epochId: Long): Boolean = true
      def process(r: org.apache.spark.sql.Row): Unit = paced.add(r.getAs[String]("payload"))
      def close(errorOrNull: Throwable): Unit = ()
    }
  // every record's FIRST putRecords attempt fails, later ones succeed —
  // models a throttled service for the at-least-once retry test
  val flakyAttempts = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
  val flakyStored = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  val flakyLeftover = new java.util.concurrent.atomic.AtomicLong(0)
  val flaky: RecordProducer = new RecordProducer {
    def putRecords(s: String, recs: Seq[ProducedRecord]): Seq[PutResult] = recs.map { r =>
      val key = new String(r.data, "UTF-8")
      val n = flakyAttempts.merge(key, 1, (a, b) => a + b)
      if (n == 1) PutResult(null, null, "ProvisionedThroughputExceededException", "first attempt throttled")
      else { flakyStored.add(key); PutResult("1", "shardId-0", null, null) }
    }
  }
  val failing = new InMemoryRecordProducer(
    failWhen = r => new String(r.data, "UTF-8").contains("bad"))
  val countingCalls = new java.util.concurrent.atomic.AtomicLong(0)
  val counting: RecordProducer = new RecordProducer {
    override def maxBatchRecords: Int = 10
    def putRecords(s: String, r: Seq[ProducedRecord]): Seq[PutResult] = {
      countingCalls.incrementAndGet()
      require(r.size <= 10)
      r.map(_ => PutResult("1", "shardId-0", null, null))
    }
  }
}
