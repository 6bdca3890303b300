package graft.streaming

import java.util
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.Group
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.FilterApi
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
import org.apache.parquet.hadoop.api.ReadSupport
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.InputFile
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.internal.Logging
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, MicroBatchStream, Offset, ReadAllAvailable, ReadLimit, ReadMaxRows, ReportsSourceMetrics, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.{AccumulatorV2, SerializableConfiguration}

/** T1/T2 as a REAL Structured Streaming source (reference contract:
  * main.py:39-44): a rate-limited `MicroBatchStream` that replays a
  * recorded parquet table grouped by timestamp, ascending, pacing
  * emission by scaled event-time gaps.
  *
  * Why a source and not the driver loop (`Replay.replay`): offsets are
  * CHECKPOINTABLE — a restarted query resumes from the last committed
  * timestamp group with the pacing clock re-anchored, and the stream
  * composes with watermarks and downstream stateful operators. The
  * driver-loop form stays for exact reference parity (its pacing math
  * is pinned by ReplaySpec).
  *
  * Execution model (designed for a real cluster, verified on local):
  *   1. At stream start the projected table `(ts_ms, partition_key,
  *      payload)` is STAGED once, distributed, to a scratch parquet
  *      snapshot range-partitioned and sorted by `ts_ms`. No row ever
  *      passes through the driver; the stage is one distributed pass
  *      over data the stream will read anyway.
  *   2. The driver keeps only the SCHEDULE — one `(ts, rowCount)` pair
  *      per distinct timestamp plus per-file ts min/max from parquet
  *      footers. Metadata-scale, same as a file-source listing.
  *   3. Offsets are the last-emitted `ts_ms` (NOT a positional index):
  *      a restart resumes at the first distinct timestamp strictly
  *      greater than the committed one, so appending strictly-later
  *      recordings to the table between runs replays exactly the new
  *      groups. Rows backfilled at-or-before a committed timestamp are
  *      not replayed (documented contract, like a file source's
  *      processed-file log).
  *   4. Each trigger admits the timestamp range `(lastTs, hiTs]` due
  *      under the pacing clock and plans one `InputPartition` per
  *      staged file whose footer ts bounds overlap it, carrying
  *      `(file, lastTs, hiTs)`; the `PartitionReader`s scan the staged
  *      parquet EXECUTOR-side with that range predicate (row groups
  *      outside the range are skipped via footer statistics). Readers
  *      open their file with the broadcast conf of step 5 only: no task
  *      builds a `Configuration` of its own, so none re-reads Hadoop's
  *      default resources from the classpath ([[GroupFiles]]). Task
  *      count is the number of overlapping staged files, at most the
  *      core count the snapshot was staged with: a paced trigger
  *      usually reads one file with one task, a full drain every file
  *      once. Each file has exactly one owner, so each row is read
  *      once.
  *   5. The session's Hadoop conf is captured once per stream, when
  *      the first trigger builds its reader factory, and broadcast
  *      (not re-serialized into every trigger's tasks); `stop()`
  *      destroys the broadcast.
  *   6. A paced trigger (`timeScale > 0`, not `Trigger.AvailableNow`)
  *      admits groups one LEAD ahead of their due time and its readers
  *      hold each row until its group is due, so the trigger's fixed
  *      cost (offset WAL, planning, job launch) overlaps the wait for
  *      the due time instead of adding to it. The lead is the stream's
  *      own measured admission-to-read delay: each paced task reports
  *      `now − admission time` when its reader is created, through one
  *      min-accumulator per stream, and an admission looks ahead by
  *      the least delay over the last [[ReplayMicroBatchStream.LeadWindow]]
  *      paced triggers (0 before the first read, also after a
  *      restart). Taking the least keeps one slow trigger (GC, CPU
  *      steal) from widening the next window: an overestimated lead
  *      would hold a window's earliest rows until its last release,
  *      since the sink flushes at partition close. Each admitted group
  *      whose due wall time (`anchor + due`) is still ahead when the
  *      trigger is planned travels in its partition as `(ts,
  *      releaseAtMs)`; the reader sleeps until that time before it
  *      returns the group's first row, so no row leaves the source
  *      before it is due. Release times are the DRIVER's clock: on a
  *      cluster, an executor whose clock is skewed from the driver's
  *      releases its rows shifted by that skew. Unpaced drains admit,
  *      plan and read exactly as without pacing: no holds, no
  *      accumulator.
  *
  * Options:
  *   - `path`            parquet file/dir to replay (required)
  *   - `tsMillisExpr`    SQL expr → epoch-millis group key (required)
  *   - `keyExpr`         SQL expr → partition key    (default: 'replay')
  *   - `payloadExpr`     SQL expr → payload string   (required)
  *   - `timeScale`       gap multiplier, 0 = no pacing (default 0)
  *   - `maxGroupsPerTrigger` admission cap (default 10000)
  *   - `maxRowsPerTrigger` admission cap by ROW count (default
  *                       unlimited): after a restart against a large
  *                       backlog every overdue group is admissible at
  *                       once, and without a row cap the first
  *                       micro-batch would be backlog-sized. The cap
  *                       admits whole groups until the row budget is
  *                       spent (always ≥ 1 group so the stream
  *                       progresses); backlog drain rate becomes
  *                       cap × trigger rate. Progress is observable
  *                       via the source metrics (`behindGroups`,
  *                       `behindRows`, `pacingLagMs`, and `admitLeadMs`,
  *                       the lookahead of the last admission, step 6)
  *                       in each StreamingQueryProgress
  *   - `groupGranularityMs` coarsen the replay schedule to this bucket
  *                       width (default 1 = exact per-timestamp
  *                       groups). The driver schedule costs 3 longs
  *                       per distinct group key — fine for second/day
  *                       recordings, 24 bytes/row for ms-unique
  *                       telemetry; at e.g. 1000 all rows in the same
  *                       second replay as one group and offsets become
  *                       bucket-end-valued (restart/backfill contract
  *                       unchanged, at bucket granularity)
  *   - `nanosAsLong`     read TIMESTAMP(NANOS) columns as BIGINT during
  *                       staging (scoped: the session conf is restored)
  *   - `stagingDir`      root for the scratch snapshot. On a real
  *                       cluster this MUST be shared storage (HDFS/S3)
  *                       so executors can read it; the default
  *                       (java.io.tmpdir) is only valid in local mode
  */
class ReplaySource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-replay"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ReplaySource.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new ReplayTable(new CaseInsensitiveStringMap(properties))
}

object ReplaySource {
  val Schema: StructType = StructType(Seq(
    StructField("ts_ms", LongType, nullable = false),
    StructField("partition_key", StringType),
    StructField("payload", StringType)))

  /** Snapshots whose newest file is older than this are orphans from a
    * crashed/killed driver. Live streams are protected twice over:
    * same-JVM streams are registered in [[liveDirs]] and skipped
    * outright, and cross-JVM streams refresh a `_heartbeat` file every
    * [[HeartbeatMs]], keeping their newest-file age far below this. */
  private[graft] val StaleStageMs: Long = 12L * 3600 * 1000

  /** Driver-side heartbeat period for a live snapshot (one tiny file
    * rewrite per period — noise next to a micro-batch). */
  private[graft] val HeartbeatMs: Long = 15L * 60 * 1000

  /** Staging dirs of streams live in THIS JVM — never pruned, however
    * old their files are. */
  private[graft] val liveDirs: java.util.Set[String] =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Best-effort snapshot delete, via the Hadoop FS API so
    * shared-storage staging roots clean up too. A companion-object
    * method on purpose: the JVM shutdown hook closes over ONLY
    * (dir, conf), not the stream instance and its schedule arrays.
    * Safe to call twice (stop + hook): deleting a missing path is a
    * no-op. */
  private[graft] def deleteStaged(dir: String, conf: Configuration): Unit =
    try {
      liveDirs.remove(dir)
      val p = new HPath(dir)
      p.getFileSystem(conf).delete(p, true)
      ()
    } catch { case _: Throwable => () }

  /** Touch (rewrite) the snapshot's `_heartbeat` marker. */
  private[graft] def heartbeat(dir: String, conf: Configuration): Unit =
    try {
      val p = new HPath(dir, "_heartbeat")
      val out = p.getFileSystem(conf).create(p, true)
      out.close()
    } catch { case _: Throwable => () }

  /** Best-effort prune of orphaned `graft_replay_stage_*` snapshots
    * under `root`. A driver that dies before `stop()` leaks its
    * UUID-named snapshot (a full copy of the replayed projection);
    * since each restart stages a fresh one, the leak otherwise grows
    * without bound. Guards, in order: same-JVM live dirs are skipped
    * outright; staleness is judged on the NEWEST direct child mtime
    * (so a long-running stream's heartbeat keeps it fresh, and the
    * write-once parquet files' age alone cannot condemn it); dirs
    * whose listing yields no usable mtime (object stores that report
    * 0) are skipped rather than guessed at. */
  private[graft] def pruneStaleStages(
      root: String, conf: Configuration,
      now: () => Long = () => System.currentTimeMillis(),
      staleMs: Long = StaleStageMs): Unit =
    try {
      val rp = new HPath(root)
      val fs = rp.getFileSystem(conf)
      if (fs.exists(rp)) fs.listStatus(rp).foreach { st =>
        if (st.isDirectory && st.getPath.getName.startsWith("graft_replay_stage_") &&
            !liveDirs.contains(st.getPath.toUri.getPath) &&
            !liveDirs.contains(st.getPath.toString)) {
          val newest =
            try fs.listStatus(st.getPath).foldLeft(0L)((m, c) =>
              math.max(m, c.getModificationTime))
            catch { case _: Throwable => Long.MaxValue } // listing failed: keep
          if (newest > 0L && newest != Long.MaxValue && now() - newest > staleMs) {
            try { fs.delete(st.getPath, true); () } catch { case _: Throwable => () }
          }
        }
      }
    } catch { case _: Throwable => () }
}

class ReplayTable(options: CaseInsensitiveStringMap) extends Table with SupportsRead {
  override def name(): String = s"graft-replay(${options.get("path")})"
  override def schema(): StructType = ReplaySource.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with Scan {
      override def build(): Scan = this
      override def readSchema(): StructType = ReplaySource.Schema
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        new ReplayMicroBatchStream(options)
    }
}

/** Serializable offset: the last fully-emitted group timestamp.
  * `Long.MinValue` = nothing emitted. Timestamp-valued (not an index)
  * so a checkpointed restart stays correct when strictly-later data
  * was appended to the table between runs. */
case class ReplayOffset(lastTs: Long) extends Offset {
  override def json: String = s"""{"lastTs":$lastTs}"""
}

object ReplayOffset {
  val Start: ReplayOffset = ReplayOffset(Long.MinValue)
  private val Re = """\{"lastTs":(-?\d+)\}""".r
  def fromJson(s: String): ReplayOffset = s match {
    case Re(n) => ReplayOffset(n.toLong)
    case _     => throw new IllegalArgumentException(s"bad replay offset: $s")
  }
}

/** One staged file's share of an admitted span: scan `file` for rows
  * with `tsLoExclusive < ts_ms <= tsHiInclusive`. Carries only a path,
  * bounds and, for a paced trigger, release times — rows are read
  * executor-side.
  *
  * A paced trigger's partitions carry its admission wall time
  * (`admittedAtMs`, −1 otherwise) and the groups that were not yet
  * due when it was planned: their keys `heldTs` (ascending) with
  * their due wall times `releaseAtMs`. Those groups are a suffix of
  * the span (due times never fall), so a row is held iff its ts is
  * above `heldAfterTs`, the key of the last group that was due; it
  * belongs to the first held group whose key is ≥ its ts. */
case class ReplayInputPartition(
    file: String, tsLoExclusive: Long, tsHiInclusive: Long,
    admittedAtMs: Long = -1L,
    heldAfterTs: Long = Long.MaxValue,
    heldTs: Array[Long] = Array.emptyLongArray,
    releaseAtMs: Array[Long] = Array.emptyLongArray)
  extends InputPartition

/** The least value added (`Long.MaxValue` when none was): carries a
  * paced trigger's admission-to-read delays from its tasks to the
  * driver, which keeps the minimum. */
final class MinLongAccumulator extends AccumulatorV2[Long, Long] {
  private var min = Long.MaxValue
  override def isZero: Boolean = min == Long.MaxValue
  override def copy(): MinLongAccumulator = { val a = new MinLongAccumulator; a.min = min; a }
  override def reset(): Unit = min = Long.MaxValue
  override def add(v: Long): Unit = if (v < min) min = v
  override def merge(other: AccumulatorV2[Long, Long]): Unit = add(other.value)
  override def value: Long = min
}

/** The session's Hadoop conf for one stream's readers, built and
  * broadcast the first time a reader factory needs it, and destroyed
  * with the stream. Spark's `SerializableConfiguration` carries it:
  * Spark's Kryo registration serializes it through Java
  * serialization, so it arrives whole under either serializer. Shared
  * by [[ReplayMicroBatchStream]] and [[LogFeedMicroBatchStream]]. */
private[streaming] final class StreamHadoopConf {
  private var bc: Broadcast[SerializableConfiguration] = null

  def get(spark: SparkSession): Broadcast[SerializableConfiguration] = synchronized {
    if (bc == null) bc = spark.sparkContext.broadcast(
      new SerializableConfiguration(spark.sessionState.newHadoopConf()))
    bc
  }

  def destroy(): Unit = synchronized {
    if (bc != null) { bc.destroy(); bc = null }
  }
}

/** Opens a parquet file as example-model `Group` records with a given
  * Hadoop conf — the stream's broadcast one. `ParquetReader.builder(
  * readSupport, path)` builds a fresh default-loading `Configuration`
  * (a classpath scan for `core-default.xml`/`core-site.xml`) in every
  * call, even when `withConf` replaces it; the `InputFile` builder
  * takes its conf from the `HadoopInputFile` and builds none. Shared
  * by [[ReplayPartitionReader]] and [[LogFeedPartitionReader]]. */
private[streaming] object GroupFiles {
  private final class Builder(file: InputFile) extends ParquetReader.Builder[Group](file) {
    override protected def getReadSupport(): ReadSupport[Group] = new GroupReadSupport()
  }

  def open(file: String, conf: Configuration,
      filter: FilterCompat.Filter = FilterCompat.NOOP): ParquetReader[Group] =
    new Builder(HadoopInputFile.fromPath(new HPath(file), conf)).withFilter(filter).build()
}

/** `lead`, set for a paced stream only, receives each paced task's
  * admission-to-read delay, taken when its reader is created. */
class ReplayReaderFactory(conf: Broadcast[SerializableConfiguration],
    val lead: Option[MinLongAccumulator] = None)
  extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[ReplayInputPartition]
    if (p.admittedAtMs >= 0L) lead.foreach(_.add(System.currentTimeMillis() - p.admittedAtMs))
    new ReplayPartitionReader(p, conf.value.value)
  }
}

/** Scans one staged file with a `ts_ms` range predicate. The filter
  * is pushed to parquet-mr, which drops whole row groups via footer
  * statistics and filters records inside surviving groups; bounds are
  * re-checked here anyway (defense, not correctness-critical). The
  * file is opened with the stream's broadcast conf ([[GroupFiles]]),
  * and the three field indices are resolved once, from the first
  * record's schema (every record of one file shares it). Rows come in
  * ts order; before the first row of a held group the reader sleeps
  * until that group's release time. */
class ReplayPartitionReader(p: ReplayInputPartition, conf: Configuration)
  extends PartitionReader[InternalRow] {

  private val reader: ParquetReader[Group] = GroupFiles.open(p.file, conf,
    FilterCompat.get(FilterApi.and(
      FilterApi.gt(FilterApi.longColumn("ts_ms"), java.lang.Long.valueOf(p.tsLoExclusive)),
      FilterApi.ltEq(FilterApi.longColumn("ts_ms"), java.lang.Long.valueOf(p.tsHiInclusive)))))
  private var current: Group = _
  private var currentTs = 0L
  private var tsIdx = -1
  private var keyIdx = -1
  private var payloadIdx = -1
  // first held group whose key is not below the last row's ts
  private var held = 0

  override def next(): Boolean = {
    var g = reader.read()
    while (g != null) {
      if (tsIdx < 0) {
        val schema = g.getType
        tsIdx = schema.getFieldIndex("ts_ms")
        keyIdx = schema.getFieldIndex("partition_key")
        payloadIdx = schema.getFieldIndex("payload")
      }
      val ts = g.getLong(tsIdx, 0)
      if (ts > p.tsLoExclusive && ts <= p.tsHiInclusive) {
        if (ts > p.heldAfterTs) awaitRelease(ts)
        current = g
        currentTs = ts
        return true
      }
      g = reader.read()
    }
    false
  }

  private def awaitRelease(ts: Long): Unit = {
    while (held < p.heldTs.length && p.heldTs(held) < ts) held += 1
    if (held < p.heldTs.length) {
      var wait = p.releaseAtMs(held) - System.currentTimeMillis()
      while (wait > 0L) {
        Thread.sleep(wait)
        wait = p.releaseAtMs(held) - System.currentTimeMillis()
      }
    }
  }

  private def str(i: Int): UTF8String =
    if (current.getFieldRepetitionCount(i) == 0) null
    else UTF8String.fromBytes(current.getBinary(i, 0).getBytes)

  override def get(): InternalRow =
    new GenericInternalRow(Array[Any](currentTs, str(keyIdx), str(payloadIdx)))

  override def close(): Unit = reader.close()
}

class ReplayMicroBatchStream(
    options: CaseInsensitiveStringMap,
    clock: () => Long = () => System.currentTimeMillis())
  extends MicroBatchStream with SupportsAdmissionControl
  with SupportsTriggerAvailableNow with ReportsSourceMetrics with Logging {

  private val path = Option(options.get("path"))
    .getOrElse(throw new IllegalArgumentException("graft-replay requires 'path'"))
  private val tsMillisExpr = Option(options.get("tsMillisExpr"))
    .getOrElse(throw new IllegalArgumentException("graft-replay requires 'tsMillisExpr'"))
  private val keyExpr = Option(options.get("keyExpr")).getOrElse("'replay'")
  private val payloadExpr = Option(options.get("payloadExpr"))
    .getOrElse(throw new IllegalArgumentException("graft-replay requires 'payloadExpr'"))
  private val timeScale = Option(options.get("timeScale")).map(_.toDouble).getOrElse(0.0)
  private val maxGroupsPerTrigger =
    Option(options.get("maxGroupsPerTrigger")).map(_.toInt).getOrElse(10000)
  private val maxRowsPerTrigger =
    Option(options.get("maxRowsPerTrigger")).map(_.toLong)
  require(maxRowsPerTrigger.forall(_ >= 1L),
    s"graft-replay: maxRowsPerTrigger must be >= 1, got ${maxRowsPerTrigger.get}")
  private val groupGranularityMs =
    Option(options.get("groupGranularityMs")).map(_.toLong).getOrElse(1L)
  require(groupGranularityMs >= 1L,
    s"graft-replay: groupGranularityMs must be >= 1, got $groupGranularityMs")
  private val nanosAsLong =
    Option(options.get("nanosAsLong")).exists(_.toBoolean)

  private def spark = SparkSession.active

  /** Driver-resident stream state: scratch-snapshot file list with
    * per-file ts bounds, and the schedule — sorted distinct group
    * timestamps with each group's cumulative due-time (the reference's
    * sleep sum: first group immediate, then max(0, gap)·timeScale —
    * main.py:39-44) and cumulative row count (for ReadMaxRows).
    * Everything here is one entry per group/file: metadata-scale. */
  private case class Staged(
      dir: String,
      files: Array[(String, Long, Long)], // (path, tsMin, tsMax)
      ts: Array[Long], due: Array[Long], cumRows: Array[Long])

  @volatile private var stagedRef: Staged = null

  private lazy val staged: Staged = ReplayStageLock.synchronized {
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val root = Option(options.get("stagingDir"))
      .getOrElse(sys.props("java.io.tmpdir"))
    // reclaim snapshots orphaned by drivers that died before stop()
    val stageHconf = spark.sessionState.newHadoopConf()
    ReplaySource.pruneStaleStages(root, stageHconf)
    val dir = s"$root/graft_replay_stage_${java.util.UUID.randomUUID()}"
    ReplaySource.liveDirs.add(dir)
    // this stream's own snapshot must not outlive an abrupt JVM exit;
    // the hook closes over ONLY (dir, conf) — a `this` capture would
    // pin the stream and its schedule arrays for the driver's
    // lifetime — and the conf is captured NOW, since at shutdown the
    // session may be gone. A failed staging attempt re-enters this
    // lazy val: drop the previous attempt's hook first so hooks don't
    // accumulate
    val prevHook = cleanupHook
    if (prevHook != null) {
      try { Runtime.getRuntime.removeShutdownHook(prevHook); () }
      catch { case _: Throwable => () }
    }
    cleanupHook = new Thread(() => ReplaySource.deleteStaged(dir, stageHconf))
    Runtime.getRuntime.addShutdownHook(cleanupHook)
    // scope the NANOS-as-BIGINT legacy conf to the staging read; the
    // snapshot itself is plain BIGINT so nothing later needs the conf.
    // The save/set/restore races with a concurrent second stream's
    // staging in the same session — ReplayStageLock serializes the
    // whole staging step (one-time, metadata-paced) so the conf window
    // is exclusive
    val confKey = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = spark.conf.getOption(confKey)
    if (nanosAsLong) spark.conf.set(confKey, "true")
    val projected = try {
      val df = spark.read.parquet(path).selectExpr(
        s"CAST(($tsMillisExpr) AS BIGINT) AS ts_ms",
        s"CAST(($keyExpr) AS STRING) AS partition_key",
        s"CAST(($payloadExpr) AS STRING) AS payload")
      val nFiles = math.max(spark.sparkContext.defaultParallelism, 1)
      // range-partition + sort so each file covers a tight contiguous
      // ts range — triggers then touch only their slice of files and
      // row-group stats prune inside each file
      df.repartitionByRange(nFiles, col("ts_ms"))
        .sortWithinPartitions("ts_ms")
        .write.mode("overwrite").parquet(dir)
      df
    } finally {
      if (nanosAsLong) prev match {
        case Some(v) => spark.conf.set(confKey, v)
        case None    => spark.conf.unset(confKey)
      }
    }
    // the snapshot's schema is the projection's: no inference job
    val snapshot = spark.read.schema(projected.schema).parquet(dir)
    // the driver schedule is 3 longs PER DISTINCT GROUP KEY. At
    // second/day-grained recordings that is metadata; for
    // millisecond-unique telemetry it would be 24 bytes/row — set
    // groupGranularityMs to coarsen. The group key is the BUCKET END
    // (b + g − 1 where b = ts − ts mod g): every raw ts in a bucket is
    // ≤ its end and > the previous bucket's end, so the ts-valued
    // offset/range machinery below works on bucket ends untouched,
    // with g = 1 degenerating to exact per-ts grouping
    val groupKey =
      if (groupGranularityMs == 1L) col("ts_ms")
      else col("ts_ms") - pmod(col("ts_ms"), lit(groupGranularityMs)) +
        lit(groupGranularityMs - 1L)
    // one row per distinct group: metadata, so it is sorted on the
    // driver rather than by a range exchange
    val grouped = snapshot.groupBy(groupKey.as("g_ts")).count().collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val ts = grouped.map(_._1)
    val counts = grouped.map(_._2)
    val due = new Array[Long](ts.length)
    val cum = new Array[Long](ts.length)
    var i = 0
    while (i < ts.length) {
      if (i > 0) due(i) = due(i - 1) + math.max(0L, ((ts(i) - ts(i - 1)) * timeScale).toLong)
      cum(i) = (if (i > 0) cum(i - 1) else 0L) + counts(i)
      i += 1
    }
    ReplaySource.heartbeat(dir, stageHconf) // freshness marker for cross-JVM pruning
    lastBeat = clock()
    val files = snapshot.inputFiles.map(f => footerTsBounds(f, stageHconf)).sortBy(_._2)
    logInfo(s"graft-replay staged ${ts.length} groups (${if (cum.isEmpty) 0L else cum.last} rows) " +
      s"into ${files.length} files at $dir")
    stagedRef = Staged(dir, files, ts, due, cum)
    stagedRef
  }

  /** ts_ms min/max from the parquet footer (metadata-only read). Files
    * without stats fall back to (MinValue, MaxValue) = always scanned. */
  private def footerTsBounds(file: String, conf: Configuration): (String, Long, Long) = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(new HPath(file), conf))
    try {
      var lo = Long.MaxValue
      var hi = Long.MinValue
      r.getFooter.getBlocks.asScala.foreach { block =>
        block.getColumns.asScala
          .filter(_.getPath.toDotString == "ts_ms")
          .foreach { cc =>
            val st = cc.getStatistics
            if (st != null && st.hasNonNullValue) {
              lo = math.min(lo, st.genericGetMin.asInstanceOf[java.lang.Long].longValue())
              hi = math.max(hi, st.genericGetMax.asInstanceOf[java.lang.Long].longValue())
            }
          }
      }
      if (lo > hi) (file, Long.MinValue, Long.MaxValue) else (file, lo, hi)
    } finally r.close()
  }

  /** First schedule index with ts strictly greater than `lastTs`. */
  private def idxAfter(ts: Array[Long], lastTs: Long): Int = {
    var lo = 0
    var hi = ts.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (ts(mid) <= lastTs) lo = mid + 1 else hi = mid
    }
    lo
  }

  // wall-clock anchor for pacing; re-established after restart so a
  // resumed query continues the schedule from its committed offset
  @volatile private var anchorWall: Long = -1L
  @volatile private var drainAll: Boolean = false

  /** Paced: admission waits for due times (step 6 of the class doc). */
  private def pacing: Boolean = timeScale > 0.0 && !drainAll

  // the lookahead (step 6): per-trigger least admission-to-read delays
  // of the last LeadWindow paced triggers that read, fed by leadAcc
  // (registered with the first paced reader factory), and the lead
  // and wall time of the last paced admission
  private var leadAcc: MinLongAccumulator = null
  private val recentLeads = scala.collection.mutable.Queue.empty[Long]
  @volatile private var admitLead: Long = 0L
  @volatile private var admittedAt: Long = -1L

  /** Folds the last trigger's delay into the window; returns the lead
    * for the next admission (0 before any paced read). */
  private def nextLead(): Long = {
    val acc = leadAcc
    if (acc != null && !acc.isZero) {
      recentLeads.enqueue(acc.value)
      if (recentLeads.size > ReplayMicroBatchStream.LeadWindow) recentLeads.dequeue()
      acc.reset()
    }
    if (recentLeads.isEmpty) 0L else math.max(0L, recentLeads.min)
  }

  override def prepareForTriggerAvailableNow(): Unit = { drainAll = true }

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def initialOffset(): Offset = ReplayOffset.Start

  override def deserializeOffset(json: String): Offset = ReplayOffset.fromJson(json)

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(start, limit) is used (SupportsAdmissionControl)")

  /** Groups admitted by `limit` on top of the pacing/option caps.
    * ReadMaxRows caps by cumulative row count (always admitting at
    * least one group so the stream makes progress); min-rows/delay
    * hints are ignored — admission is already event-time paced. */
  private def applyReadLimit(limit: ReadLimit, from: Int, hi: Int, cum: Array[Long]): Int =
    limit match {
      case _: ReadAllAvailable => hi
      case r: ReadMaxRows =>
        val base = if (from > 0) cum(from - 1) else 0L
        var h = from
        while (h < hi && cum(h) - base <= r.maxRows()) h += 1
        if (h == from && from < hi) from + 1 // one oversized group still progresses
        else h
      case c: CompositeReadLimit =>
        c.getReadLimits.foldLeft(hi)((acc, l) => math.min(acc, applyReadLimit(l, from, hi, cum)))
      case other =>
        logWarning(s"graft-replay: unsupported ReadLimit $other ignored")
        hi
    }

  // throttled liveness marker: refreshed at most once per HeartbeatMs
  // from the driver's trigger path, so a stream that outlives
  // StaleStageMs is never condemned by its write-once parquet mtimes
  @volatile private var lastBeat: Long = 0L

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = staged
    if (clock() - lastBeat > ReplaySource.HeartbeatMs) {
      lastBeat = clock()
      ReplaySource.heartbeat(s.dir, spark.sessionState.newHadoopConf())
    }
    val lastTs = start.asInstanceOf[ReplayOffset].lastTs
    val from = idxAfter(s.ts, lastTs)
    if (from >= s.ts.length) return start
    if (anchorWall < 0L) anchorWall = clock() - (if (from > 0) s.due(from - 1) else 0L)
    val dueNow =
      if (!pacing) s.ts.length
      else {
        admittedAt = clock()
        admitLead = nextLead()
        val horizon = admittedAt - anchorWall + admitLead
        var hi = from
        while (hi < s.ts.length && s.due(hi) <= horizon) hi += 1
        hi
      }
    val hiCap = math.min(dueNow, from + maxGroupsPerTrigger)
    // source-side row budget: composes with (never overrides) the
    // engine's ReadLimit — the tighter of the two wins
    val rowCapped = maxRowsPerTrigger
      .map(n => applyReadLimit(ReadLimit.maxRows(n), from, hiCap, s.cumRows))
      .getOrElse(hiCap)
    val capped = math.min(applyReadLimit(limit, from, hiCap, s.cumRows), rowCapped)
    if (capped <= from) start else ReplayOffset(s.ts(capped - 1))
  }

  /** Backlog/lag observability, surfaced per micro-batch in
    * `StreamingQueryProgress.sources[i].metrics`: how many schedule
    * groups and rows remain unconsumed, and — when pacing is active —
    * how far past-due the next unconsumed group is (a healthy paced
    * replay keeps `pacingLagMs` near zero; a sustained climb means the
    * query cannot keep up with the recorded event rate), and the
    * lookahead the last admission used (`admitLeadMs`). */
  override def metrics(latestConsumedOffset: java.util.Optional[Offset]): util.Map[String, String] = {
    val s = stagedRef
    if (s == null || s.ts.isEmpty) return util.Collections.emptyMap[String, String]()
    val lastTs =
      if (!latestConsumedOffset.isPresent) Long.MinValue
      else latestConsumedOffset.get match {
        case r: ReplayOffset => r.lastTs
        case o => ReplayOffset.fromJson(o.json).lastTs
      }
    val from = idxAfter(s.ts, lastTs)
    val doneRows = if (from > 0) s.cumRows(from - 1) else 0L
    val lagMs =
      if (from >= s.ts.length || anchorWall < 0L || timeScale <= 0.0) 0L
      else math.max(0L, (clock() - anchorWall) - s.due(from))
    Map(
      "behindGroups" -> (s.ts.length - from).toString,
      "behindRows" -> (s.cumRows.last - doneRows).toString,
      "pacingLagMs" -> lagMs.toString,
      "admitLeadMs" -> admitLead.toString).asJava
  }

  override def reportLatestOffset(): Offset =
    if (staged.ts.isEmpty) ReplayOffset.Start else ReplayOffset(staged.ts.last)

  /** One partition per staged file whose footer ts bounds overlap the
    * admitted span `(startTs, endTs]`, each carrying only `(file,
    * startTs, endTs)`. The snapshot is range-partitioned by `ts_ms`, so
    * a paced trigger usually plans one file and a full drain plans
    * each file once: task count is bounded by the staged file count,
    * not by the number of distinct timestamps. Rows are fetched
    * executor-side — nothing data-scale crosses the driver. A paced
    * trigger's partitions also carry its admission time and the release
    * times of the groups not yet due (step 6 of the class doc). */
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val startTs = start.asInstanceOf[ReplayOffset].lastTs
    val endTs = end.asInstanceOf[ReplayOffset].lastTs
    if (endTs <= startTs) return Array.empty
    val s = staged
    // a batch this stream did not admit (re-run from the offset log
    // after a restart) has no anchor yet: it is planned unpaced
    val part: String => ReplayInputPartition =
      if (!pacing || anchorWall < 0L) ReplayInputPartition(_, startTs, endTs)
      else {
        val now = clock()
        val to = idxAfter(s.ts, endTs)
        var h = idxAfter(s.ts, startTs)
        while (h < to && anchorWall + s.due(h) <= now) h += 1
        val after = if (h > 0) s.ts(h - 1) else Long.MinValue
        val heldTs = s.ts.slice(h, to)
        val releaseAt = s.due.slice(h, to).map(anchorWall + _)
        ReplayInputPartition(_, startTs, endTs, admittedAt, after, heldTs, releaseAt)
      }
    s.files.collect { case (f, lo, hi) if hi > startTs && lo <= endTs => part(f): InputPartition }
  }

  private val readerConf = new StreamHadoopConf

  override def createReaderFactory(): PartitionReaderFactory =
    new ReplayReaderFactory(readerConf.get(spark), if (pacing) Some(leadAccumulator()) else None)

  private def leadAccumulator(): MinLongAccumulator = {
    if (leadAcc == null) {
      leadAcc = new MinLongAccumulator
      spark.sparkContext.register(leadAcc)
    }
    leadAcc
  }

  override def commit(end: Offset): Unit = ()

  @volatile private var cleanupHook: Thread = null

  override def stop(): Unit = {
    // stagedRef stays null if staging never ran (referencing the lazy
    // val here would trigger it)
    val s = stagedRef
    if (s != null)
      ReplaySource.deleteStaged(s.dir, spark.sessionState.newHadoopConf())
    readerConf.destroy()
    val h = cleanupHook
    if (h != null) {
      // clean exit: the hook's work is done, don't accumulate one
      // thread per stream over a long-lived driver
      try { Runtime.getRuntime.removeShutdownHook(h); () }
      catch { case _: Throwable => () } // already shutting down
      cleanupHook = null
    }
  }
}

object ReplayMicroBatchStream {
  /** Paced triggers whose least admission-to-read delay bounds the
    * next admission's lead. */
  val LeadWindow = 5
}

/** JVM-wide lock for the staging step's session-conf save/set/restore:
  * two replay streams starting concurrently in one SparkSession would
  * otherwise interleave their nanosAsLong windows and read a wrong (or
  * failing) schema. Staging is a one-time metadata-paced step per
  * stream, so serializing it costs nothing observable. */
private[streaming] object ReplayStageLock
