package graft.operators

import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.unsafe.types.UTF8String
import graft.expressions.LambdaRecord
import graft.xml.{XmlShapeException, XmlTree}

/** P3/E3/T5 — the Firehose-lambda-equivalent stateless transform: a
  * base64 XML record → fixed-schema flat record with the declared
  * 7-attribute + 31-reading column list, null-seeded then selectively
  * filled (reference: acoustic_parser_lambda.py:6-49,73-91).
  *
  * The required/optional contract is faithful to the reference:
  *   - messagePayload and all 7 attrs are REQUIRED (missing → error,
  *     like the reference's AttributeError on a None find());
  *   - readingCollection is optional; a reading without attributeName
  *     is skipped; attributeValue is required once a name is present;
  *   - attributeUoM is required only for the UoM-allowlisted readings;
  *   - readings NOT in the declared list still land in the record (the
  *     reference's dict gains the key) — they're visible through the
  *     map form, and dropped by the fixed projection.
  */
object LambdaTransform {
  val Ns = "{http://uptake.com/bhp/1/sensors}"

  val Attrs: Seq[String] = Seq(
    "vehicleIdentifier", "componentIdentifier", "positionInTrain",
    "typeOfReading", "readingTimestampUTC", "readingLocation", "sourceSystem")

  val Readings: Seq[String] = Seq(
    "SensorDataQualityDescription", "SiteTimeZoneId", "SiteName",
    "TrainDirection", "VehicleTag", "VehicleEndLeading", "TrackSide",
    "TrainAxleNumber", "VehicleAxleNumber", "VehicleSide",
    "RailBAMBearingFaultCode", "RailBAMWheelFaultCode", "RMSTotalDB",
    "RMSBandDB", "LooseFrettingDB", "RollerDB", "CupDB", "ConeDB",
    "NoisyDB", "RMSBandWheelflatDB", "WheelflatDB", "TrainVehicleNumber",
    "WHEEL_TEMPERATURE", "BEARING_TEMPERATURE", "weight", "weight_UoM",
    "vertical_peak_UoM", "vertical_peak", "speed", "speed_UoM",
    "BrokenSpringDefect")

  val ReadingsWithUom: Set[String] = Set("weight", "vertical_peak", "speed")

  /** Declared output columns, in declaration order. */
  val Columns: Seq[String] = Attrs ++ Readings

  /** Pure per-record transform: XML → string-keyed record. */
  def parseXml(xml: String): Map[String, String] = {
    val root = XmlTree.parse(xml)
    val payload = root.find(s"${Ns}messagePayload").getOrElse(
      throw new XmlShapeException("missing messagePayload"))
    val record = mutable.LinkedHashMap.empty[String, String]
    for (a <- Attrs)
      record(a) = payload.find(s"$Ns$a").getOrElse(
        throw new XmlShapeException(s"missing required attribute $a")).text
    for (r <- Readings) record(r) = null
    payload.find(s"${Ns}readingCollection").foreach { rc =>
      for (r <- rc.children) {
        r.find(s"${Ns}attributeName").foreach { nameEl =>
          val name = if (nameEl.text == null) "" else nameEl.text
          record(name) = r.find(s"${Ns}attributeValue").getOrElse(
            throw new XmlShapeException(s"reading $name missing attributeValue")).text
          if (ReadingsWithUom.contains(name))
            record(name + "_UoM") = r.find(s"${Ns}attributeUoM").getOrElse(
              throw new XmlShapeException(s"reading $name missing attributeUoM")).text
        }
      }
    }
    record.toMap
  }

  /** [[parseXml]]'s projection twin: the same walk and the same
    * required/optional contract (identical exceptions in identical
    * order), but values land directly in `out`, one `UTF8String` per
    * [[Columns]] entry in declared order (the fields of
    * [[graft.expressions.LambdaRecord]]'s struct), instead of a
    * per-record string map — unknown reading names are validated
    * (attributeValue required, UoM rules) and then dropped, exactly
    * what the map form fed to the fixed projection did. Readings are
    * null-seeded by the array itself. */
  private[graft] def parseXmlInto(xml: String, out: Array[Any]): Unit = {
    val root = XmlTree.parse(xml)
    val payload = root.find(s"${Ns}messagePayload").getOrElse(
      throw new XmlShapeException("missing messagePayload"))
    var i = 0
    while (i < Attrs.length) {
      out(i) = UTF8String.fromString(payload.find(Ns + Attrs(i)).getOrElse(
        throw new XmlShapeException(s"missing required attribute ${Attrs(i)}")).text)
      i += 1
    }
    payload.find(s"${Ns}readingCollection").foreach { rc =>
      for (r <- rc.children) {
        r.find(s"${Ns}attributeName").foreach { nameEl =>
          val name = if (nameEl.text == null) "" else nameEl.text
          val v = r.find(s"${Ns}attributeValue").getOrElse(
            throw new XmlShapeException(s"reading $name missing attributeValue")).text
          val j = ColumnIndex.getOrElse(name, -1)
          if (j >= 0) out(j) = UTF8String.fromString(v)
          if (ReadingsWithUom.contains(name)) {
            val u = r.find(s"${Ns}attributeUoM").getOrElse(
              throw new XmlShapeException(s"reading $name missing attributeUoM")).text
            val ju = ColumnIndex.getOrElse(name + "_UoM", -1)
            if (ju >= 0) out(ju) = UTF8String.fromString(u)
          }
        }
      }
    }
  }

  private val ColumnIndex: Map[String, Int] = Columns.zipWithIndex.toMap

  /** Spark operator: `dataCol` holds base64-encoded XML (the Firehose
    * record body). Output = pass-through `keep` columns cast to
    * STRING (for the integral and string keys callers keep, the
    * `String.valueOf` of the value; null stays null) + the fixed
    * 38-column projection. 1:1 record mapping, stateless (T5/K4).
    *
    * The parse is ONE Catalyst expression,
    * [[graft.expressions.LambdaRecord]]`(unbase64(data))`, a static
    * kernel over [[parseXmlInto]] returning a 38-field string struct;
    * one `Project` expands it into [[Columns]]. A typed
    * `mapPartitions` with a 39-field row encoder planned as
    * deserialize → map → serialize across two codegen stages, and
    * Catalyst optimized, generated and printed that encoder plan again
    * in every streaming trigger. The struct is referenced once per
    * column it feeds, which keeps `CollapseProject` from copying the
    * parse into each column: it runs once per record.
    *
    * Contract: every strict-contract violation fails the query with
    * [[parseXml]]'s `XmlShapeException` message whenever a lambda
    * column is read. Being an expression, the parse is pruned like
    * one: over a scan or a stream, a projection that reads no lambda
    * column (only `keep` columns, or a bare `count()`) skips it and
    * cannot fail on a bad record. (Spark's optimizer evaluates a
    * local relation's projections eagerly, before pruning.) */
  def transform(df: DataFrame, dataCol: Column, keep: Seq[Column] = Nil): DataFrame = {
    val keepNames = keep.map(c => df.select(c).columns.head)
    val record = Bridge.column(LambdaRecord(Bridge.expression(unbase64(dataCol))))
    val parsed = df.select(
      keep.zip(keepNames).map { case (c, n) => c.cast("string").as(n) } :+ record.as("_lambda"): _*)
    parsed.select(
      keepNames.map(n => col(s"`${n.replace("`", "``")}`")) ++
        Columns.map(c => col("_lambda").getField(c).as(c)): _*)
  }
}
