package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{SignalFlattener, VehicleComponentFlattener}
import graft.xml.XmlShapeException

/** Unit tests for the pure flatteners against FIXTURES.md shapes —
  * no Spark session needed. */
class FlattenerSpec extends AnyFunSuite {

  private val sigNs = "xmlns:NS1=\"http://uptake.com/bhp/1/sensors\""
  private val vcNs = "xmlns:NS1=\"http://www.uptake.com/bhp/1/vehicleComponent\""

  test("signal: scalars + readings + UoM companions") {
    val xml =
      s"""<NS1:message $sigNs><NS1:messagePayload>
         |<NS1:vehicleIdentifier>V123</NS1:vehicleIdentifier>
         |<NS1:typeOfReading>ACOUSTIC</NS1:typeOfReading>
         |<NS1:readingCollection>
         |<NS1:reading><NS1:attributeName>RMSTotalDB</NS1:attributeName><NS1:attributeValue>82.1</NS1:attributeValue></NS1:reading>
         |<NS1:reading><NS1:attributeName>speed</NS1:attributeName><NS1:attributeValue>61.5</NS1:attributeValue><NS1:attributeUoM>km/h</NS1:attributeUoM></NS1:reading>
         |</NS1:readingCollection></NS1:messagePayload></NS1:message>""".stripMargin
    val rows = SignalFlattener.flatten(xml)
    assert(rows.length == 1)
    val r = rows.head
    assert(r("vehicleIdentifier") == "V123")
    assert(r("typeOfReading") == "ACOUSTIC")
    assert(r("RMSTotalDB") == "82.1")
    assert(!r.contains("RMSTotalDB_UoM"))
    assert(r("speed") == "61.5")
    assert(r("speed_UoM") == "km/h")
  }

  test("signal: duplicate attributeName keeps last occurrence (V3)") {
    val xml =
      s"""<NS1:message $sigNs><NS1:messagePayload><NS1:readingCollection>
         |<NS1:reading><NS1:attributeName>v</NS1:attributeName><NS1:attributeValue>first</NS1:attributeValue></NS1:reading>
         |<NS1:reading><NS1:attributeName>v</NS1:attributeName><NS1:attributeValue>last</NS1:attributeValue></NS1:reading>
         |</NS1:readingCollection></NS1:messagePayload></NS1:message>""".stripMargin
    assert(SignalFlattener.flatten(xml).head("v") == "last")
  }

  test("signal: empty scalar element → null value; missing collection tolerated") {
    val xml =
      s"""<NS1:message $sigNs><NS1:messagePayload>
         |<NS1:readingLocation></NS1:readingLocation>
         |</NS1:messagePayload></NS1:message>""".stripMargin
    val r = SignalFlattener.flatten(xml).head
    assert(r.contains("readingLocation") && r("readingLocation") == null)
  }

  test("signal: unknown reading attribute FAILFASTs (E6)") {
    val xml =
      s"""<NS1:message $sigNs><NS1:messagePayload><NS1:readingCollection>
         |<NS1:reading><NS1:bogus>x</NS1:bogus></NS1:reading>
         |</NS1:readingCollection></NS1:messagePayload></NS1:message>""".stripMargin
    assertThrows[XmlShapeException](SignalFlattener.flatten(xml))
  }

  test("signal: unknown nested collection FAILFASTs (E6)") {
    val xml =
      s"""<NS1:message $sigNs><NS1:messagePayload>
         |<NS1:badCollection><NS1:x>1</NS1:x></NS1:badCollection>
         |</NS1:messagePayload></NS1:message>""".stripMargin
    assertThrows[XmlShapeException](SignalFlattener.flatten(xml))
  }

  test("component: recursive unnest with parent_code adjacency (U4)") {
    val xml =
      s"""<NS1:vehicleComponent $vcNs>
         |<NS1:vehicleIdentifier>V123</NS1:vehicleIdentifier>
         |<NS1:componentCollection>
         |<NS1:component><NS1:componentCode>BOGIE-1</NS1:componentCode>
         |<NS1:serialNumber>SN-1</NS1:serialNumber>
         |<NS1:componentAttributeCollection>
         |<NS1:attribute><NS1:attributeName>manufacturer</NS1:attributeName><NS1:attributeValue>ACME</NS1:attributeValue></NS1:attribute>
         |<NS1:attribute><NS1:attributeName>decommissionDate</NS1:attributeName></NS1:attribute>
         |</NS1:componentAttributeCollection>
         |<NS1:subcomponentCollection>
         |<NS1:component><NS1:componentCode>WHEELSET-1A</NS1:componentCode>
         |<NS1:subcomponentCollection>
         |<NS1:component><NS1:componentCode>AXLE-1</NS1:componentCode></NS1:component>
         |</NS1:subcomponentCollection>
         |</NS1:component>
         |</NS1:subcomponentCollection>
         |</NS1:component>
         |</NS1:componentCollection></NS1:vehicleComponent>""".stripMargin
    val rows = VehicleComponentFlattener.flatten(xml)
    assert(rows.length == 3) // one per node at any depth
    val byCode = rows.map(r => r("componentCode") -> r).toMap
    assert(byCode("BOGIE-1")("parent_code") == null)
    assert(byCode("WHEELSET-1A")("parent_code") == "BOGIE-1")
    assert(byCode("AXLE-1")("parent_code") == "WHEELSET-1A")
    // root attrs broadcast onto every row (U5)
    assert(rows.forall(_("vehicleIdentifier") == "V123"))
    // 2-child attribute → value; 1-child → null (V2)
    assert(byCode("BOGIE-1")("manufacturer") == "ACME")
    assert(byCode("BOGIE-1")("decommissionDate") == null)
    // deep rows don't have shallow-only keys
    assert(!byCode("AXLE-1").contains("serialNumber"))
    // emission order is post-order DFS (children before parent)
    assert(rows.map(_("componentCode")) == Seq("AXLE-1", "WHEELSET-1A", "BOGIE-1"))
  }

  test("component: missing componentCode → null parent linkage") {
    val xml =
      s"""<NS1:vehicleComponent $vcNs><NS1:componentCollection>
         |<NS1:component><NS1:serialNumber>SN-9</NS1:serialNumber>
         |<NS1:subcomponentCollection>
         |<NS1:component><NS1:componentCode>CHILD</NS1:componentCode></NS1:component>
         |</NS1:subcomponentCollection>
         |</NS1:component>
         |</NS1:componentCollection></NS1:vehicleComponent>""".stripMargin
    val rows = VehicleComponentFlattener.flatten(xml)
    val child = rows.find(_.get("componentCode").contains("CHILD")).get
    assert(child("parent_code") == null)
  }

  test("component: data column parent_code is overwritten by linkage") {
    val xml =
      s"""<NS1:vehicleComponent $vcNs><NS1:componentCollection>
         |<NS1:component><NS1:componentCode>C1</NS1:componentCode>
         |<NS1:parent_code>SPOOFED</NS1:parent_code></NS1:component>
         |</NS1:componentCollection></NS1:vehicleComponent>""".stripMargin
    assert(VehicleComponentFlattener.flatten(xml).head("parent_code") == null)
  }

  test("component: root attr shadowed by component key on collision (U5)") {
    val xml =
      s"""<NS1:vehicleComponent $vcNs>
         |<NS1:owner>root-owner</NS1:owner>
         |<NS1:componentCollection>
         |<NS1:component><NS1:componentCode>C1</NS1:componentCode>
         |<NS1:owner>component-owner</NS1:owner></NS1:component>
         |</NS1:componentCollection></NS1:vehicleComponent>""".stripMargin
    assert(VehicleComponentFlattener.flatten(xml).head("owner") == "component-owner")
  }

  test("malformed XML (broken syntax) throws; flattenSafe quarantines it") {
    val broken = s"""<NS1:message $sigNs><NS1:messagePayload><unclosed</NS1:message>"""
    assertThrows[Exception](SignalFlattener.flatten(broken))
    // and through the Spark-safe path it becomes an error row, not a crash
    val spark = GraftSession.local(cores = 2)
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val out = graft.operators.FlattenOps
      .flattenSafe(Seq(broken).toDF("doc"), "doc", SignalFlattener, Nil)
      .select(col("error")).as[String].collect()
    assert(out.length == 1 && out.head != null)
  }

  test("component: illegal attribute arity / unknown collections FAILFAST (E6)") {
    val threeChildren =
      s"""<NS1:vehicleComponent $vcNs><NS1:componentCollection>
         |<NS1:component><NS1:componentAttributeCollection>
         |<NS1:attribute><NS1:a>1</NS1:a><NS1:b>2</NS1:b><NS1:c>3</NS1:c></NS1:attribute>
         |</NS1:componentAttributeCollection></NS1:component>
         |</NS1:componentCollection></NS1:vehicleComponent>""".stripMargin
    assertThrows[XmlShapeException](VehicleComponentFlattener.flatten(threeChildren))
    val unknownRoot =
      s"""<NS1:vehicleComponent $vcNs>
         |<NS1:weirdCollection><NS1:x>1</NS1:x></NS1:weirdCollection>
         |</NS1:vehicleComponent>""".stripMargin
    assertThrows[XmlShapeException](VehicleComponentFlattener.flatten(unknownRoot))
  }
}
