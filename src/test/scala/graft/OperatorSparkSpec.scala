package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.operators._
import graft.sources.{GreedyBatcher, TarCodec}

/** Spark-side operator tests: tokenizer, wide projection, envelope,
  * tar codec, greedy batcher. One shared local session. */
class OperatorSparkSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.local(cores = 4)

  test("tokenizer: N docs, whitespace fragments dropped, tags re-appended (U1/P1)") {
    import spark.implicits._
    val tag = "</NS1:message>"
    val content = s"<a>1$tag\n  \n<a>2$tag   \n"
    val df = Seq(content, "", "   \n ").toDF("content")
    val out = Tokenizer.tokenize(df, col("content"), tag).as[String].collect().sorted
    assert(out.length == 2)
    assert(out.forall(_.endsWith("\n" + tag)))
    assert(out.head.startsWith("<a>1"))
  }

  test("tokenizer: unicode-whitespace-only fragments dropped like str.strip (U1/P1)") {
    import spark.implicits._
    val tag = "</NS1:message>"
    // U+00A0 nbsp + U+2028 line separator: Python str.strip removes
    // both, ASCII \s would not — the fragment must be dropped
    val content = s"<a>1$tag\u00a0\u2028 \u00a0<a>2$tag"
    val out = Tokenizer.tokenize(Seq(content).toDF("content"), col("content"), tag)
      .as[String].collect().sorted
    assert(out.length == 2, s"unicode-whitespace fragment must not survive, got ${out.toSeq}")
    assert(out.head.startsWith("<a>1") && out.last.startsWith("<a>2"))
  }

  test("wide projection: dynamic key union with null fill (U6/V1)") {
    import spark.implicits._
    val df = Seq(Map("a" -> "1"), Map("b" -> "2", "a" -> "3")).toDF("fields")
    val wide = WideColumns.widen(df, "fields")
    assert(wide.columns.toSeq == Seq("a", "b"))
    val rows = wide.collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(rows == Set(("1", null), ("3", "2")))
  }

  test("snake_case matches inflection.underscore behavior (P5/E5)") {
    assert(WideColumns.underscore("RMSTotalDB") == "rms_total_db")
    assert(WideColumns.underscore("readingTimestampUTC") == "reading_timestamp_utc")
    assert(WideColumns.underscore("speed_UoM") == "speed_uo_m")
    assert(WideColumns.underscore("vehicleIdentifier") == "vehicle_identifier")
    assert(WideColumns.underscore("already_snake") == "already_snake")
  }

  test("envelope: wrap → parse roundtrip preserves payload and constants (E1/E2)") {
    import spark.implicits._
    val df = Seq(("<xml attr=\"x\"/>\nline2", "ACOUSTIC")).toDF("payload", "ptype")
    val wrapped = Envelope.wrap(df, col("payload"), col("ptype"))
    val parsed = Envelope.parse(wrapped, col("envelope"))
      .select("payload", "tenant_id", "partition_id").as[(String, String, String)].head()
    assert(parsed == (("<xml attr=\"x\"/>\nline2", "bhp", "ACOUSTIC")))
  }

  test("tar codec: archive → members roundtrip incl. utf-8 (S4/E4)") {
    val entries = Seq("a.xml" -> "héllo <x/>", "dir/b.xml" -> "wörld")
      .map { case (n, s) => (n, s.getBytes("UTF-8")) }
    val back = TarCodec.members(TarCodec.archive(entries.iterator)).toSeq
    assert(back.map(_._1) == Seq("a.xml", "dir/b.xml"))
    assert(back.map(e => new String(e._2, "UTF-8")) == Seq("héllo <x/>", "wörld"))
  }

  test("greedy batcher: reference packing semantics (S2)") {
    // cap 10: [4,5] flush at 4+5+2>=10 → [4,5],[2,3],[9? ...]
    assert(GreedyBatcher.assign(Seq(4, 5, 2, 3, 9), 10) == Seq(0, 0, 1, 1, 2))
    // >= threshold: exact fit starts a new batch
    assert(GreedyBatcher.assign(Seq(5, 5), 10) == Seq(0, 1))
    // oversized singleton at the start, accumulator untouched
    assert(GreedyBatcher.assign(Seq(12, 1, 2), 10) == Seq(0, 1, 1))
    // oversized after a flush opens its own batch via the next trigger
    assert(GreedyBatcher.assign(Seq(3, 12, 1), 10) == Seq(0, 1, 2))
    // all oversized → all singletons
    assert(GreedyBatcher.assign(Seq(20, 30, 40), 10) == Seq(0, 1, 2))
  }

  test("flattener dispatch by reading type (reference file_flattener.py:156)") {
    assert(Flattener.forReadingType("ACOUSTIC") eq SignalFlattener)
    assert(Flattener.forReadingType("VISUAL") eq SignalFlattener)
    assert(Flattener.forReadingType("vehicleComponent") eq VehicleComponentFlattener)
    assert(Flattener.forReadingType("anythingElse") eq VehicleComponentFlattener)
  }

  test("typed Dataset[SignalReading] path from base64 records") {
    import spark.implicits._
    val xml =
      """<NS1:message xmlns:NS1="http://uptake.com/bhp/1/sensors"><NS1:messagePayload>
        |<NS1:vehicleIdentifier>V9</NS1:vehicleIdentifier>
        |<NS1:componentIdentifier>C2</NS1:componentIdentifier>
        |<NS1:positionInTrain>7</NS1:positionInTrain>
        |<NS1:typeOfReading>IMPACT</NS1:typeOfReading>
        |<NS1:readingTimestampUTC>T1</NS1:readingTimestampUTC>
        |<NS1:readingLocation>L</NS1:readingLocation>
        |<NS1:sourceSystem>S</NS1:sourceSystem>
        |<NS1:readingCollection>
        |<NS1:reading><NS1:attributeName>speed</NS1:attributeName><NS1:attributeValue>55</NS1:attributeValue><NS1:attributeUoM>km/h</NS1:attributeUoM></NS1:reading>
        |</NS1:readingCollection></NS1:messagePayload></NS1:message>""".stripMargin
    val records = Seq(xml).toDF("xml")
      .select(base64(col("xml").cast("binary")).as("data"))
    val typed = SignalReading.fromRecords(records, col("data")).collect().head
    assert(typed.vehicleIdentifier == "V9")
    assert(typed.typeOfReading == "IMPACT")
    assert(typed.speed.contains("55") && typed.speed_UoM.contains("km/h"))
    assert(typed.weight.isEmpty) // null-seeded reading → None
  }

  test("lambda transform: required attrs enforced, extras kept in map form (P3)") {
    val ok = LambdaTransform.parseXml(
      """<NS1:message xmlns:NS1="http://uptake.com/bhp/1/sensors"><NS1:messagePayload>
        |<NS1:vehicleIdentifier>V1</NS1:vehicleIdentifier>
        |<NS1:componentIdentifier>C1</NS1:componentIdentifier>
        |<NS1:positionInTrain>3</NS1:positionInTrain>
        |<NS1:typeOfReading>ACOUSTIC</NS1:typeOfReading>
        |<NS1:readingTimestampUTC>T</NS1:readingTimestampUTC>
        |<NS1:readingLocation>L</NS1:readingLocation>
        |<NS1:sourceSystem>S</NS1:sourceSystem>
        |<NS1:readingCollection>
        |<NS1:reading><NS1:attributeName>NotDeclared</NS1:attributeName><NS1:attributeValue>42</NS1:attributeValue></NS1:reading>
        |</NS1:readingCollection>
        |</NS1:messagePayload></NS1:message>""".stripMargin)
    assert(ok("vehicleIdentifier") == "V1")
    assert(ok("RMSTotalDB") == null) // null-seeded
    assert(ok("NotDeclared") == "42") // extra key lands in the record
    assertThrows[graft.xml.XmlShapeException] {
      LambdaTransform.parseXml(
        """<NS1:message xmlns:NS1="http://uptake.com/bhp/1/sensors"><NS1:messagePayload>
          |<NS1:vehicleIdentifier>V1</NS1:vehicleIdentifier>
          |</NS1:messagePayload></NS1:message>""".stripMargin)
    }
  }

  private val SensorNs = """xmlns:NS1="http://uptake.com/bhp/1/sensors""""

  /** A signal message: the seven required attributes (or `attrs`),
    * then `body` inside the payload. */
  private def signalDoc(body: String,
      attrs: Seq[String] = LambdaTransform.Attrs, tag: String = "1"): String =
    s"<NS1:message $SensorNs><NS1:messagePayload>" +
      attrs.map(a => s"<NS1:$a>$a-$tag</NS1:$a>").mkString + body +
      "</NS1:messagePayload></NS1:message>"

  private def reading(name: String, value: String, uom: Option[String] = None): String =
    s"<NS1:reading><NS1:attributeName>$name</NS1:attributeName>" +
      s"<NS1:attributeValue>$value</NS1:attributeValue>" +
      uom.map(u => s"<NS1:attributeUoM>$u</NS1:attributeUoM>").getOrElse("") + "</NS1:reading>"

  private def b64(xml: String): String =
    java.util.Base64.getEncoder.encodeToString(xml.getBytes("UTF-8"))

  /** `rows` as a local relation (interpreted eval) and as a parquet
    * scan (whole-stage codegen). */
  private def bothPaths(rows: org.apache.spark.sql.DataFrame): Seq[org.apache.spark.sql.DataFrame] = {
    val dir = java.nio.file.Files.createTempDirectory("graft_lambda").toString
    rows.write.mode("overwrite").parquet(dir)
    Seq(rows, spark.read.parquet(dir))
  }

  /** The XmlShapeException message in `e`'s cause chain, if any. */
  private def shapeMessage(e: Throwable): Option[String] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .collectFirst { case x: graft.xml.XmlShapeException => x.getMessage }

  test("lambda transform: row-for-row equal to parseXml's projection, keep columns first") {
    import spark.implicits._
    val docs = Seq(
      // declared, UoM and undeclared readings; an explicit *_UoM reading
      // later overwritten by its value reading's unit
      (1L, "a", signalDoc("<NS1:readingCollection>" +
        reading("RMSTotalDB", "1.5") + reading("weight_UoM", "lb") +
        reading("weight", "10", Some("kg")) + reading("speed", "55", Some("km/h")) +
        reading("vertical_peak", "3", Some("g")) + reading("NotDeclared", "42") +
        "</NS1:readingCollection>", tag = "1")),
      // no readingCollection: every reading stays null
      (9876543210123L, null, signalDoc("", tag = "2")),
      // a reading without attributeName is skipped; an empty value
      (-7L, "c", signalDoc("<NS1:readingCollection>" +
        "<NS1:reading><NS1:attributeValue>x</NS1:attributeValue></NS1:reading>" +
        reading("BrokenSpringDefect", "") + "</NS1:readingCollection>", tag = "3")))
    val want = docs.map { case (id, tag, xml) =>
      val m = LambdaTransform.parseXml(xml)
      Seq(String.valueOf(id), tag) ++ LambdaTransform.Columns.map(m(_))
    }
    val rows = docs.map { case (id, tag, xml) => (id, tag, b64(xml)) }.toDF("id", "tag", "data")
    bothPaths(rows).foreach { df =>
      val out = LambdaTransform.transform(df, col("data"), Seq(col("id"), col("tag")))
      assert(out.columns.toSeq == Seq("id", "tag") ++ LambdaTransform.Columns)
      assert(out.schema.forall(_.dataType == org.apache.spark.sql.types.StringType))
      val got = out.collect().map(_.toSeq.map(v => v.asInstanceOf[String])).sortBy(_.head)
      assert(got.toSeq == want.sortBy(_.head))
    }
  }

  test("lambda transform: every strict-contract violation fails a query that reads a lambda column") {
    import spark.implicits._
    val bad = Seq(
      "<NS1:message " + SensorNs + "><NS1:other/></NS1:message>",
      signalDoc("", attrs = LambdaTransform.Attrs.take(3)),
      signalDoc("<NS1:readingCollection><NS1:reading><NS1:attributeName>RollerDB" +
        "</NS1:attributeName></NS1:reading></NS1:readingCollection>"),
      signalDoc("<NS1:readingCollection>" + reading("speed", "55") + "</NS1:readingCollection>"))
    bad.foreach { xml =>
      val want = intercept[graft.xml.XmlShapeException](LambdaTransform.parseXml(xml)).getMessage
      val rows = Seq((1L, b64(xml)), (2L, b64(signalDoc("")))).toDF("id", "data")
      val Seq(local, scan) = bothPaths(rows)
      Seq(local, scan).foreach { df =>
        val out = LambdaTransform.transform(df, col("data"), Seq(col("id")))
        Seq(out, out.select(col("id"), col("sourceSystem")),
            out.select(col("speed"), col("RollerDB"), col("vehicleIdentifier"))).foreach { q =>
          val e = intercept[Exception](q.collect())
          assert(shapeMessage(e).contains(want), s"want '$want', got: $e")
        }
      }
      // documented: over a scan, a projection reading no lambda column
      // skips the parse (the optimizer evaluates a local relation's
      // projections eagerly, before pruning)
      assert(LambdaTransform.transform(scan, col("data"), Seq(col("id"))).select(col("id"))
        .collect().map(_.getString(0)).sorted.toSeq == Seq("1", "2"))
    }
    val nullData = Seq((1L, null: String)).toDF("id", "data")
    bothPaths(nullData).foreach { df =>
      val e = intercept[Exception](
        LambdaTransform.transform(df, col("data")).select(col("sourceSystem")).collect())
      assert(shapeMessage(e).contains("missing record data"), e.toString)
    }
  }

  test("PCM frame energy: int16 sign extension, exact sums, silence verdicts") {
    import spark.implicits._
    // hand-built little-endian payload: frame size 2, samples
    // [-1, 1, 0, 0, 32767, -32768] → energies [2, 0, 32767²+32768²]
    val bytes = Array[Byte](
      0xFF.toByte, 0xFF.toByte, 0x01, 0x00, // -1, 1
      0x00, 0x00, 0x00, 0x00, //  0, 0 (true silence)
      0xFF.toByte, 0x7F.toByte, 0x00, 0x80.toByte) // 32767, -32768
    val df = Seq((7L, bytes)).toDF("media_id", "payload")
    val got = Multimodal.frameEnergy(df, frame = 2).collect().sortBy(_.frame_idx)
    assert(got.map(f => (f.frame_idx, f.energy, f.is_silence)).toSeq == Seq(
      (0L, 2L, false), (1L, 0L, true),
      (2L, 32767L * 32767L + 32768L * 32768L, false)))
    // synthesized clips decode back to the synthesis formula exactly
    val synth = Seq((3L, Multimodal.synthPcm(3L, 320, 160))).toDF("media_id", "payload")
    val e0 = (0 until 160).map(i => { val v = ((3L * 31 + i * 7L) % 4096) - 2048; v * v }).sum
    val frames = Multimodal.frameEnergy(synth, frame = 160).collect().sortBy(_.frame_idx)
    assert(frames.map(_.energy).toSeq == Seq(e0,
      (160 until 320).map(i => { val v = ((3L * 31 + i * 7L) % 4096) - 2048; v * v }).sum))
    // odd byte length fails loudly instead of silently truncating
    val bad = Seq((9L, Array[Byte](1, 2, 3))).toDF("media_id", "payload")
    val err = intercept[org.apache.spark.SparkException] {
      Multimodal.frameEnergy(bad, frame = 2).collect()
    }
    assert(err.getMessage.contains("odd PCM byte length")
      || Option(err.getCause).exists(_.getMessage.contains("odd PCM byte length")))
  }

  test("PCM decimation: stride selection, order-sensitive checksum, loud failure") {
    import spark.implicits._
    // hand-built little-endian samples [10, 20, 30, 40, 50]; factor 2
    // keeps indices 0,2,4 → [10, 30, 50]: energy 100+900+2500 = 3500,
    // checksum 1·10 + 2·30 + 3·50 = 220
    val bytes = Array[Byte](10, 0, 20, 0, 30, 0, 40, 0, 50, 0)
    val df = Seq((5L, bytes)).toDF("media_id", "payload")
    val got = Multimodal.decimatePcm(df, factor = 2).collect().head
    assert((got.n_in, got.n_out, got.energy, got.checksum) == ((5L, 3L, 3500L, 220L)))
    // factor 1 is the identity pass-through
    val all = Multimodal.decimatePcm(df, factor = 1).collect().head
    assert((all.n_out, all.checksum) == ((5L, 10L + 2 * 20 + 3 * 30 + 4 * 40 + 5 * 50)))
    // the checksum is ORDER-sensitive: swapping two kept samples must
    // change it even though the energy (a bag statistic) cannot
    val swapped = Array[Byte](50, 0, 20, 0, 30, 0, 40, 0, 10, 0)
    val sw = Multimodal.decimatePcm(Seq((5L, swapped)).toDF("media_id", "payload"), 2)
      .collect().head
    assert(sw.energy == got.energy && sw.checksum != got.checksum)
    // odd byte length fails loudly instead of silently truncating
    val err = intercept[org.apache.spark.SparkException] {
      Multimodal.decimatePcm(Seq((9L, Array[Byte](1, 2, 3))).toDF("media_id", "payload"), 2).collect()
    }
    assert(err.getMessage.contains("odd PCM byte length")
      || Option(err.getCause).exists(_.getMessage.contains("odd PCM byte length")))
  }

  test("compaction file listing goes through the Hadoop FileSystem API") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft_fs_list").toString
    spark.range(100).select(col("id")).repartition(4)
      .write.mode("overwrite").parquet(dir)
    val listed = graft.queries.PipelineQueries.parquetFileSizes(spark, dir)
    assert(listed.size == 4, s"expected 4 parquet files, got $listed")
    assert(listed.forall { case (n, len) => n.endsWith(".parquet") && len > 0 })
    assert(listed.map(_._1) == listed.map(_._1).sorted, "listing must be name-sorted")
    // _SUCCESS and other non-data files must be excluded
    assert(!listed.exists(_._1.startsWith("_")))
    // works on an explicit file:// URI too (the Path → FileSystem
    // resolution a non-local store would exercise)
    val viaUri = graft.queries.PipelineQueries.parquetFileSizes(spark, s"file://$dir")
    assert(viaUri == listed)
  }

  test("sessionize splits on a sub-second 1800.5s gap but not on exactly 1800.0s") {
    import spark.implicits._
    import java.sql.Timestamp
    // Micro-precision gap math: 1800.5 s > 30 min must open a new
    // session; exactly 1800.0 s must not (threshold is strict >). The
    // old seconds-floor math saw both gaps as 1800 s and merged them.
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00.25")
    def plus(sec: Double) = new Timestamp(t0.getTime + (sec * 1000).toLong)
    val ev = Seq(
      ("u_split", t0, 1L), ("u_split", plus(1800.5), 2L),
      ("u_merge", t0, 3L), ("u_merge", plus(1800.0), 4L),
    ).toDF("user_id", "ts", "event_id")
    val out = graft.queries.PipelineQueries.sessionize(ev)
      .select("user_id", "n_sessions").as[(String, Long)].collect().toMap
    assert(out("u_split") == 2L)
    assert(out("u_merge") == 1L)
  }
}
