package graft.streaming

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.internal.Logging
import org.apache.spark.sql.{DataFrame, ForeachWriter, Row}
import org.apache.spark.sql.functions._

/** K3/T3/T4 — keyed streaming sink with per-record ACK inspection and
  * deliberate at-most-once semantics (reference: main.py:18-34,45-49):
  * batch-level failures are logged and swallowed, per-record failures
  * are surfaced but not retried. The failed records are exposed as a
  * side-output so upgrading to at-least-once is a config flip, not a
  * rewrite (SURVEY §7.5).
  */
object KinesisSink extends Logging {

  /** Streaming-native form: a ForeachWriter over (partitionKey, data)
    * rows for `df.writeStream.foreach(...)`. Records are buffered to
    * the service batch cap, flushed per partition epoch. */
  final class Writer(producerFactory: () => RecordProducer, stream: String)
    extends ForeachWriter[(String, Array[Byte])] with Logging {

    @transient private var producer: RecordProducer = _
    @transient private var buf: ArrayBuffer[ProducedRecord] = _

    override def open(partitionId: Long, epochId: Long): Boolean = {
      producer = producerFactory()
      buf = new ArrayBuffer[ProducedRecord]()
      true
    }

    override def process(value: (String, Array[Byte])): Unit = {
      buf += ProducedRecord(value._1, value._2)
      if (buf.size >= producer.maxBatchRecords) flush()
    }

    private def flush(): Unit = if (buf.nonEmpty) {
      try {
        val results = producer.putRecords(stream, buf.toSeq)
        var failed = 0
        results.foreach { r =>
          if (r.failed) {
            failed += 1
            logError(s"Failed to produce record: ${r.errorMessage}")
          }
        }
        logInfo(s"Produced ${results.size - failed} of ${buf.size} records to $stream ($failed failed)")
      } catch {
        // at-most-once: log and continue (reference main.py:45-49)
        case e: Exception => logError(s"Error producing batch: ${e.getMessage}")
      }
      buf.clear()
    }

    override def close(errorOrNull: Throwable): Unit =
      if (errorOrNull == null) flush()
      else {
        // a failed epoch is retried by Spark from its checkpoint —
        // emitting the partial buffer here would produce those records
        // AGAIN on the retry, breaking at-most-once
        logError(s"epoch failed (${errorOrNull.getMessage}); " +
          s"discarding ${if (buf == null) 0 else buf.size} unflushed records (at-most-once)")
        if (buf != null) buf.clear()
      }
  }

  /** Batch/foreachBatch form: produce a DataFrame with `partitionKey`
    * and binary `data` columns; returns the per-record failures as a
    * side-output (partitionKey, data, errorCode, errorMessage).
    *
    * `retries` is the at-least-once flip (SURVEY §7.5): 0 preserves the
    * reference's at-most-once contract (failures surfaced, never
    * resent — main.py:45-49); N > 0 resends ONLY the still-failing
    * subset of each service batch up to N more times before surfacing
    * the survivors (route those to a DLQ). Successes are never resent,
    * so retrying cannot duplicate records within a task; a failed TASK
    * replayed by Spark re-produces its partition — that is the
    * at-least-once contract. A production producer would back off
    * between attempts; the retry loop here is immediate and
    * deterministic.
    *
    * Each task produces its own partition's records (no driver
    * collect); the producer factory is invoked per task, matching a
    * per-executor client pool at cluster scale. */
  def produce(df: DataFrame, stream: String,
      producerFactory: () => RecordProducer, retries: Int = 0): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val keyIdx = df.schema.fieldIndex("partitionKey")
    val dataIdx = df.schema.fieldIndex("data")
    df.mapPartitions { (rows: Iterator[Row]) =>
      val producer = producerFactory()
      val out = ArrayBuffer.empty[(String, Array[Byte], String, String)]
      rows.grouped(producer.maxBatchRecords).foreach { group =>
        var pending: Seq[ProducedRecord] =
          group.map(r => ProducedRecord(r.getString(keyIdx), r.getAs[Array[Byte]](dataIdx)))
        var lastFailures: Seq[(ProducedRecord, String, String)] = Nil
        var attempt = 0
        while (pending.nonEmpty && attempt <= retries) {
          val failed = ArrayBuffer.empty[(ProducedRecord, String, String)]
          try {
            producer.putRecords(stream, pending).zip(pending).foreach { case (res, rec) =>
              if (res.failed) failed += ((rec, res.errorCode, res.errorMessage))
            }
          } catch {
            case e: Exception =>
              pending.foreach(rec => failed += ((rec, "BatchError", e.getMessage)))
          }
          lastFailures = failed.toSeq
          pending = lastFailures.map(_._1)
          attempt += 1
        }
        lastFailures.foreach { case (rec, code, msg) =>
          out += ((rec.partitionKey, rec.data, code, msg))
        }
      }
      out.iterator
    }.toDF("partitionKey", "data", "errorCode", "errorMessage")
  }
}
