package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.operators.Envelope
import graft.sources.TarCodec

/** SURVEY §3.1 unpack stage end-to-end with the REAL binaryFile source:
  * tar archives on disk → binaryFile scan → member extraction →
  * JSON envelope → NDJSON text sink → read back (K1/S4/S5/E1/E2/E4 +
  * A2 accumulators). */
class UnpackPipelineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.local(cores = 4)

  test("tar files → binaryFile → extract → envelope → NDJSON → read-back") {
    import spark.implicits._
    val srcDir = Files.createTempDirectory("graft_unpack_src")
    // two archives, three members total — Hive-ish layout
    val day = srcDir.resolve("ACOUSTIC/year=2022/month=10/day=16")
    Files.createDirectories(day)
    Files.write(day.resolve("batch1.tar"), TarCodec.archive(Iterator(
      "m1.xml" -> "<a>1</a>".getBytes("UTF-8"),
      "m2.xml" -> "<b>ü</b>".getBytes("UTF-8"))))
    Files.write(day.resolve("batch2.tar"), TarCodec.archive(Iterator(
      "m3.xml" -> "<c>3</c>".getBytes("UTF-8"))))

    val archives = spark.read.format("binaryFile")
      .load(s"$srcDir/ACOUSTIC/year=2022/month=10/day=16")
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]

    val tarsAcc = spark.sparkContext.longAccumulator("tars")
    val membersAcc = spark.sparkContext.longAccumulator("members")
    val extracted = TarCodec.extract(archives, Some(tarsAcc), Some(membersAcc))
    val enveloped = Envelope.wrap(extracted, col("content"), lit("ACOUSTIC"))

    val outDir = Files.createTempDirectory("graft_unpack_out").toString
    Envelope.writeNdjson(enveloped, "envelope", outDir)

    // accumulators tally the run (A2)
    assert(tarsAcc.value == 2L && membersAcc.value == 3L)

    // read the NDJSON back through the envelope parser
    val back = Envelope.parse(spark.read.text(outDir), col("value"))
      .select("payload", "tenant_id", "partition_id")
      .as[(String, String, String)].collect().sortBy(_._1)
    assert(back.toSeq == Seq(
      ("<a>1</a>", "bhp", "ACOUSTIC"),
      ("<b>ü</b>", "bhp", "ACOUSTIC"),
      ("<c>3</c>", "bhp", "ACOUSTIC")))
  }
}
