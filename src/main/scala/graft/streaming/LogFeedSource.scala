package graft.streaming

import java.util
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.ParquetReader
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.internal.Logging
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration
import graft.operators.OccCommitLog

/** The TABLE LOG as a first-class Structured Streaming SOURCE —
  * Delta's `spark.readStream` on a table (public: the DeltaSource,
  * whose offsets are `(reservoirVersion, index)` into `_delta_log`;
  * Armbrust VLDB '20 §5.3 "Streaming Ingest and Consumption"). The
  * repo's streamed replicas (s37/s38/s40) consume change feeds staged
  * as FILES by the producer; a production consumer points at the LOG
  * itself. This source closes that gap for the
  * [[graft.operators.OccCommitLog]] table logs:
  *
  *   - OFFSETS ARE COMMIT VERSIONS. `latestOffset` is one metadata
  *     read of the log (file names + one-line bodies — no data);
  *     a checkpointed restart resumes at the first uncommitted
  *     version, so every change is consumed exactly once however
  *     often the query is killed and replayed.
  *   - each micro-batch carries the commits in `(start, end]` as
  *     change rows: `insert` actions with their payload, `delete`
  *     actions as ids-only events (p29's CDC contract); derived and
  *     metadata commits (`snapshot` / `optimize` / `meta`) introduce
  *     no change and are skipped, and truly unknown kinds fail loudly
  *     at PLANNING — emitting them as anything would corrupt a
  *     downstream replica silently.
  *   - artifacts are existence-checked at planning: a consumer pulling
  *     from behind vacuum's retention horizon gets the NAMED contract
  *     error, not whatever the scan happens to throw.
  *   - rows are read EXECUTOR-side (ReplaySource's reader discipline:
  *     the driver plans paths, PartitionReaders scan parquet), one
  *     InputPartition per action. The readers' Hadoop conf is the
  *     session's, captured and broadcast once per stream when the
  *     first trigger builds its reader factory (ReplaySource's
  *     [[StreamHadoopConf]]); `stop()` destroys the broadcast.
  *
  * Options:
  *   - `logDir`                the OccCommitLog directory (required)
  *   - `startVersion`          exclusive low bound (default -1 = all)
  *   - `maxVersionsPerTrigger` admission cap per micro-batch
  *                             (default: all available)
  *
  * The payload schema is the doc-table change schema (p29's); a
  * schema-governed variant would resolve it from the log's `meta`
  * commits (p36) — noted as the extension point, not built, because
  * every current table log carries the one schema. */
class LogFeedSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-logfeed"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    LogFeedSource.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new LogFeedTable(new CaseInsensitiveStringMap(properties))
}

object LogFeedSource {
  val Schema: StructType = StructType(Seq(
    StructField("version", IntegerType, nullable = false),
    StructField("kind", StringType, nullable = false),
    StructField("doc_id", LongType, nullable = false),
    StructField("lang", StringType),
    StructField("n_chars", LongType)))

  /** Commit kinds that introduce no table change: checkpoints and
    * layout rewrites are derived data, meta commits govern schema —
    * none of them is an event a replica applies (Delta's CDF likewise
    * never emits checkpoint contents as changes). */
  val NonChangeKinds: Set[String] = Set("snapshot", "optimize", "meta")
}

class LogFeedTable(options: CaseInsensitiveStringMap) extends Table with SupportsRead {
  override def name(): String = s"graft-logfeed(${options.get("logDir")})"
  override def schema(): StructType = LogFeedSource.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with Scan {
      override def build(): Scan = this
      override def readSchema(): StructType = LogFeedSource.Schema
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        new LogFeedMicroBatchStream(options)
    }
}

/** Serializable offset: the last fully-consumed commit VERSION (-1 =
  * nothing consumed). Version-valued so a checkpointed restart resumes
  * at the log's own coordinate — appends between runs stream as
  * exactly the new commits. */
case class LogFeedOffset(version: Int) extends Offset {
  override def json: String = s"""{"version":$version}"""
}

object LogFeedOffset {
  private val Re = """\{"version":(-?\d+)\}""".r
  def fromJson(s: String): LogFeedOffset = s match {
    case Re(n) => LogFeedOffset(n.toInt)
    case _     => throw new IllegalArgumentException(s"bad logfeed offset: $s")
  }
}

/** One commit action's worth of change rows: scan `files`, emit each
  * row tagged (version, kind). Paths only — rows are read
  * executor-side. */
case class LogFeedInputPartition(version: Int, kind: String,
    files: Array[String]) extends InputPartition

class LogFeedMicroBatchStream(options: CaseInsensitiveStringMap)
  extends MicroBatchStream with SupportsAdmissionControl
  with SupportsTriggerAvailableNow with Logging {

  private val logDir = Option(options.get("logDir"))
    .getOrElse(throw new IllegalArgumentException("graft-logfeed requires 'logDir'"))
  private val startVersion =
    Option(options.get("startVersion")).map(_.toInt).getOrElse(-1)
  private val maxVersionsPerTrigger =
    Option(options.get("maxVersionsPerTrigger")).map(_.toInt)
  require(maxVersionsPerTrigger.forall(_ >= 1),
    s"graft-logfeed: maxVersionsPerTrigger must be >= 1")

  private def spark = SparkSession.active
  private def hconf = spark.sessionState.newHadoopConf()
  private def fs: FileSystem = new HPath(logDir).getFileSystem(hconf)

  // AvailableNow: the tail captured at prepare time bounds the run —
  // commits landing after prepare wait for the next run (the
  // AvailableNow contract: drain what was available, then stop)
  @volatile private var availableNowCap: Int = Int.MaxValue
  override def prepareForTriggerAvailableNow(): Unit = {
    availableNowCap = OccCommitLog.read(fs, logDir)
      .lastOption.map(_.version).getOrElse(-1)
  }

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def initialOffset(): Offset = LogFeedOffset(startVersion)

  override def deserializeOffset(json: String): Offset =
    LogFeedOffset.fromJson(json)

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(start, limit) is used (SupportsAdmissionControl)")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val sv = start.asInstanceOf[LogFeedOffset].version
    // ONE metadata read: file names + one-line commit bodies
    val tail = OccCommitLog.read(fs, logDir)
      .lastOption.map(_.version).getOrElse(-1)
    val capped = Seq(
      Some(tail),
      Some(availableNowCap),
      maxVersionsPerTrigger.map(sv + _)).flatten.min
    if (capped <= sv) start else LogFeedOffset(capped)
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val sv = start.asInstanceOf[LogFeedOffset].version
    val ev = end.asInstanceOf[LogFeedOffset].version
    val f = fs
    OccCommitLog.read(f, logDir)
      .filter(c => c.version > sv && c.version <= ev)
      .flatMap {
        case c if LogFeedSource.NonChangeKinds(c.kind) => None
        case c if c.kind == "insert" || c.kind == "delete" =>
          val p = new HPath(c.path)
          // the retention-horizon contract, at PLANNING, with the
          // named error (p29/copyDir's wording — one stat per action)
          if (!f.exists(p)) throw new IllegalStateException(
            s"change-feed artifact ${c.path} (commit ${c.version}) no longer " +
              "exists — it is behind the retention horizon and vacuum already " +
              "reclaimed it; a consumer this far behind must re-seed from a " +
              "current snapshot, not skip the epoch")
          val files = f.listStatus(p).toSeq
            .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
            .map(_.getPath.toString).sorted
          Some(LogFeedInputPartition(c.version, c.kind, files.toArray))
        case c => throw new IllegalArgumentException(
          s"graft-logfeed: unknown commit kind '${c.kind}' at version " +
            s"${c.version} — emitting it as anything would corrupt a replica")
      }.toArray
  }

  private val readerConf = new StreamHadoopConf

  /** Readers resolve artifacts with the session's Hadoop conf as it
    * was at the first trigger, shipped once per stream as a broadcast. */
  override def createReaderFactory(): PartitionReaderFactory =
    new LogFeedReaderFactory(readerConf.get(spark))

  override def commit(end: Offset): Unit = () // the log is immutable
  override def stop(): Unit = readerConf.destroy()
}

class LogFeedReaderFactory(conf: Broadcast[SerializableConfiguration])
  extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new LogFeedPartitionReader(partition.asInstanceOf[LogFeedInputPartition], conf.value.value)
}

/** Emits one change row per record of the action's parquet artifact:
  * insert rows carry their payload, delete rows are ids-only (lang and
  * n_chars null — the artifact never stored them; a retraction has no
  * payload). */
class LogFeedPartitionReader(p: LogFeedInputPartition, conf: Configuration)
  extends PartitionReader[InternalRow] {

  private var fileIdx = -1
  private var reader: ParquetReader[Group] = _
  private var current: Group = _

  private def nextReader(): Boolean = {
    if (reader != null) { reader.close(); reader = null }
    fileIdx += 1
    if (fileIdx >= p.files.length) return false
    reader = GroupFiles.open(p.files(fileIdx), conf)
    true
  }

  override def next(): Boolean = {
    while (true) {
      if (reader == null && !nextReader()) return false
      val g = reader.read()
      if (g != null) { current = g; return true }
      reader.close(); reader = null
    }
    false // unreachable
  }

  override def get(): InternalRow = {
    val schema = current.getType
    def has(field: String): Boolean =
      schema.containsField(field) &&
        current.getFieldRepetitionCount(schema.getFieldIndex(field)) > 0
    val lang =
      if (p.kind == "insert" && has("lang"))
        UTF8String.fromBytes(current.getBinary("lang", 0).getBytes)
      else null
    val nChars: Any =
      if (p.kind == "insert" && has("n_chars")) current.getLong("n_chars", 0)
      else null
    new GenericInternalRow(Array[Any](
      p.version, UTF8String.fromString(p.kind),
      current.getLong("doc_id", 0), lang, nChars))
  }

  override def close(): Unit = if (reader != null) reader.close()
}
