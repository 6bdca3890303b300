package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.operators._
import graft.sinks.CsvSink

/** SURVEY §7.2 minimum end-to-end slice, as a golden test: compacted
  * multi-doc signal file → tokenize → flatten → dynamic wide schema →
  * quote-all CSV under a Hive path → read back and compare exactly. */
class FlattenPipelineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.local(cores = 4)

  private val ns = "xmlns:NS1=\"http://uptake.com/bhp/1/sensors\""

  private def doc(vehicle: String, readings: String): String =
    s"""<NS1:message $ns><NS1:messagePayload>
       |<NS1:vehicleIdentifier>$vehicle</NS1:vehicleIdentifier>
       |<NS1:typeOfReading>ACOUSTIC</NS1:typeOfReading>
       |<NS1:readingCollection>$readings</NS1:readingCollection>
       |</NS1:messagePayload></NS1:message>""".stripMargin

  private def reading(name: String, value: String, uom: Option[String] = None): String =
    s"<NS1:reading><NS1:attributeName>$name</NS1:attributeName>" +
      s"<NS1:attributeValue>$value</NS1:attributeValue>" +
      uom.map(u => s"<NS1:attributeUoM>$u</NS1:attributeUoM>").getOrElse("") +
      "</NS1:reading>"

  test("compacted files → tokenize → flatten → widen → quote-all CSV → read-back golden") {
    import spark.implicits._
    // two compacted files; schemas differ per doc (dynamic union)
    val f1 = doc("V1", reading("RMSTotalDB", "82.1")) + "\n" +
      doc("V2", reading("speed", "61.5", Some("km/h")))
    val f2 = "\n  \n" + doc("V3", reading("RMSTotalDB", "9.9") + reading("NoisyDB", "1.5")) + "  \n"
    val compacted = Seq(f1, f2).toDF("content")

    val tokenized = Tokenizer.tokenize(compacted, col("content"), SignalFlattener.endTag)
    val flat = FlattenOps.flattenStrict(tokenized, "xml", SignalFlattener, Nil)
    val wide = WideColumns.widen(flat, "fields")

    // dynamic schema = union of observed keys, sorted
    assert(wide.columns.toSeq ==
      Seq("NoisyDB", "RMSTotalDB", "speed", "speed_UoM", "typeOfReading", "vehicleIdentifier"))

    val outDir = java.nio.file.Files.createTempDirectory("graft_golden").toString
    val target = CsvSink.write(wide, s"$outDir/ACOUSTIC/year=2022/month=10/day=16",
      rowCountInName = true, namePrefix = "ACOUSTIC_20221016")
    assert(target.endsWith("ACOUSTIC_20221016_3")) // row count in name

    val back = CsvSink.read(spark, target)
      .orderBy(col("vehicleIdentifier"))
      .collect()
      .map(r => wide.columns.map(c => Option(r.getAs[String](c)).orNull).toSeq)
    assert(back.toSeq == Seq(
      Seq(null, "82.1", null, null, "ACOUSTIC", "V1"),
      Seq(null, null, "61.5", "km/h", "ACOUSTIC", "V2"),
      Seq("1.5", "9.9", null, null, "ACOUSTIC", "V3")))
  }
}
