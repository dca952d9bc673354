package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.sources.LabFunnel

/** Golden tests for the lab funnel: coding-system routing + the six
  * source-specific builders (ref hl7-reader/.../labs). Messages are
  * hand-written raw HL7 v2; expected values hand-derived from the
  * reference builder semantics.
  */
class LabFunnelSpec extends SparkSpecBase {
  import spark.implicits._

  private def df(raws: String*) = raws.toDF("raw")

  /** Build a segment placing values at explicit 1-based field indices. */
  private def hseg(id: String, fields: (Int, String)*): String = {
    val m = fields.toMap
    (Seq(id) ++ (1 to (if (m.isEmpty) 0 else m.keys.max)).map(i =>
      m.getOrElse(i, ""))).mkString("|")
  }

  test("coding system routing matches the reference decision table") {
    val cases = Seq(
      // OBR-4.3 = WinPath
      ("MSH|^~\\&|EPIC|EPIC|||20240501||ORM^O01|M1|P|2.4\rOBR|1|94|123|FBC^FBC^WinPath",
        "WIN_PATH"),
      // OBR-3.2 = CoPathPlus
      ("MSH|^~\\&|Bridges|UCLH|||20240501||ORU^R01|M2|P|2.4\rOBR|1|94|123^CoPathPlus|X^Y",
        "CO_PATH"),
      // OBR-4.3 = CPEAP
      ("MSH|^~\\&|Bridges|UCLH|||20240501||ORU^R01|M3|P|2.4\rOBR|1|94|123|H^Hist^CPEAP",
        "CO_PATH"),
      ("MSH|^~\\&|BIO-CONNECT|UCLH|||20240501||ORU^R01|M4|P|2.4\rOBR|1|94|123|GLU^Glucose",
        "BIO_CONNECT"),
      ("MSH|^~\\&|ABL90 FLEX Plus|UCLH|||20240501||ORU^R30|M5|P|2.4\rOBR|1|94|123|VBG^Gas",
        "ABL90_FLEX_PLUS"),
      ("MSH|^~\\&|IMG_RESULT|UCLH|||20240501||ORU^R01|M6|P|2.4\rOBR|1|94|123|XR^Xray",
        "PACS"),
      ("MSH|^~\\&|EPIC|Vitals |||20240501||ORU^R01|M7|P|2.4\rOBX|1|NM|5^HR||80",
        "FLOWSHEET"),
      ("MSH|^~\\&|EPIC|Consult Orders|||20240501||ORM^O01|M8|P|2.4\rOBR|1|94|123|CON^Consult",
        "CONSULT_ORDER"),
      ("MSH|^~\\&|EPIC|DNACPR|||20240501||ORM^O01|M9|P|2.4\rOBR|1|94|123|DNA^Decision",
        "ADVANCED_DECISION_ORDER"),
      ("MSH|^~\\&|BM|UCLH|||20240501||ORU^R01|M10|P|2.4\rOBR|1|94|123|PROF1^Profile^^Profiles",
        "BANK_MANAGER"),
      ("MSH|^~\\&|BM|UCLH|||20240501||ORM^O01|M11|P|2.4\rOBR|1|94|123|PRD1^Product^^Products",
        "BLOOD_PRODUCTS"),
      ("MSH|^~\\&|MYSTERY|UCLH|||20240501||ORU^R01|M12|P|2.4\rOBR|1|94|123|X^Y",
        null))
    val got = df(cases.map(_._1): _*)
      .select(LabFunnel.codingSystem(col("raw"))).as[Option[String]]
      .collect().map(_.orNull)
    assert(got.toSeq == cases.map(_._2))
  }

  private val winPathOrm = Seq(
    "MSH|^~\\&|EPIC|EPIC|||20240501120000||ORM^O01|ORM01|P|2.4",
    "PID|1||40800000^^^MRN^MRN",
    hseg("PV1", 1 -> "1", 2 -> "I", 3 -> "T11E", 19 -> "123412341234"),
    "ORC|NW|94000010|123456789||||||20240501115000",
    "OBR|1|94000010|123456789|FBC^FULL BLOOD COUNT^WinPath|||20240501114500||||||Fatigue|||||||||||F",
    "NTE|1||Specimen type:-Blood",
    "NTE|2||more detail",
    "ORC|CA|94000011|123456788||||||20240501115100",
    "OBR|2|94000011|123456788|MG^MAGNESIUM^WinPath|||20240501114600"
  ).mkString("\r")

  test("golden WinPath ORM: two orders, questions, cancel deletes epic number") {
    val rows = LabFunnel.parseOrderMessages(df(winPathOrm), "raw", LabFunnel.WinPath)
      .orderBy("sourceMessageId").collect()
    assert(rows.length == 2)
    val o1 = rows(0)
    assert(o1.getAs[String]("sourceMessageId") == "ORM01_01")
    assert(o1.getAs[String]("codingSystem") == "WIN_PATH")
    assert(o1.getAs[String]("orderControlId") == "NW")
    assert(o1.getAs[String]("epicOrderNumber") == "94000010")
    assert(!o1.getAs[Boolean]("epicOrderDelete"))
    assert(o1.getAs[String]("labSpecimenNumber") == "123456789")
    assert(o1.getAs[String]("mrn") == "40800000")
    assert(o1.getAs[String]("visitNumber") == "123412341234")
    assert(o1.getAs[String]("battery") == "FBC")
    assert(o1.getAs[String]("clinicalInfo") == "Fatigue")
    // NW: ORC-9 is both order time and status-change time
    assert(o1.getAs[Long]("orderTimeUs") == o1.getAs[Long]("statusChangeTimeUs"))
    val qs = o1.getSeq[Row](o1.fieldIndex("questions"))
    assert(qs.map(q => (q.getAs[String]("question"), q.getAs[String]("answer"))) ==
      Seq(("Specimen type", "Blood\nmore detail")))
    assert(o1.isNullAt(o1.fieldIndex("error")))
    val o2 = rows(1)
    assert(o2.getAs[String]("sourceMessageId") == "ORM01_02")
    assert(o2.getAs[String]("orderControlId") == "CA")
    assert(o2.getAs[String]("epicOrderNumber") == "94000011")
    assert(o2.getAs[Boolean]("epicOrderDelete"))
  }

  test("WinPath order errors: epic mismatch, short specimen, bad order control") {
    val mismatch = Seq(
      "MSH|^~\\&|EPIC|EPIC|||20240501120000||ORM^O01|E1|P|2.4",
      "ORC|NW|94000010|123456789||||||20240501115000",
      "OBR|1|94000099|123456789|FBC^FBC^WinPath|||20240501114500").mkString("\r")
    val shortSpec = Seq(
      "MSH|^~\\&|EPIC|EPIC|||20240501120000||ORM^O01|E2|P|2.4",
      "ORC|NW|94000010|1234||||||20240501115000",
      "OBR|1|94000010|1234|FBC^FBC^WinPath|||20240501114500").mkString("\r")
    val badOc = Seq(
      "MSH|^~\\&|EPIC|EPIC|||20240501120000||ORM^O01|E3|P|2.4",
      "ORC|XX|94000010|123456789||||||20240501115000",
      "OBR|1|94000010|123456789|FBC^FBC^WinPath|||20240501114500").mkString("\r")
    val got = LabFunnel.parseOrderMessages(
        df(mismatch, shortSpec, badOc), "raw", LabFunnel.WinPath)
      .select("sourceMessageId", "error").as[(String, String)].collect().toMap
    assert(got("E1_01") == "epic_order_number_mismatch")
    assert(got("E2_01") == "specimen_number_too_short:1234")
    assert(got("E3_01") == "oc_not_allowed:XX")
  }

  private val winPathOru = Seq(
    "MSH|^~\\&|WinPath|UCLH|||20240501120000||ORU^R01|LAB01|P|2.4",
    "PID|1||40800000^^^MRN^MRN",
    hseg("PV1", 1 -> "1", 2 -> "I", 3 -> "T11E", 19 -> "123412341234"),
    "ORC|RE|94000001|12345678901||CM",
    hseg("OBR", 1 -> "1", 2 -> "94000001", 3 -> "12345678901",
      4 -> "MCU^CULTURE^WinPath", 7 -> "20240501100000",
      22 -> "20240501113000", 24 -> "HAEM", 25 -> "F"),
    "OBX|1|CE|ISOLATE^Isolate^WinPath|1|KLEPN ^Klebsiella pneumoniae^WinPath||||||F",
    "NTE|1||Heavy growth",
    "OBX|2|ST|ISOLATE^Isolate^WinPath|1|10,000 - 100,000 CFU/mL||||||F",
    "OBX|3|NM|WCC^White cell count^WinPath||11.5|10*9/L|4.0-11.0|H|||F",
    "ORC|RE|94000001|12345678901||CM",
    hseg("OBR", 1 -> "2", 2 -> "94000001", 3 -> "12345678901",
      4 -> "SENS^Sensitivities^WinPath", 7 -> "20240501100000",
      13 -> "Pen allergy", 22 -> "20240501113000", 24 -> "HAEM", 25 -> "F",
      26 -> "ISOLATE&Isolate&WinPath^1"),
    "OBX|1|ST|VAMP^Vancomycin^WinPath||S||||||F"
  ).mkString("\r")

  test("golden WinPath ORU: isolate sub-id merge + sensitivity re-parenting") {
    val rows = LabFunnel.parseWinPathResults(df(winPathOru), "raw").collect()
    // the sensitivity child order is re-parented away
    assert(rows.length == 1)
    val o = rows.head
    assert(o.getAs[String]("sourceMessageId") == "LAB01_01")
    assert(o.getAs[String]("epicOrderNumber") == "94000001")
    assert(o.getAs[String]("labSpecimenNumber") == "123456789")
    assert(o.isNullAt(o.fieldIndex("error")))
    val rs = o.getSeq[Row](o.fieldIndex("results"))
    // OBX 1+2 merged by sub-id, OBX 3 standalone → 2 results
    assert(rs.length == 2)
    val iso = rs.find(_.getAs[String]("testCode") == "ISOLATE").get
    assert(iso.getAs[String]("mimeType") == "LAB_ISOLATE")
    assert(iso.isNullAt(iso.fieldIndex("stringValue"))) // cleared on merge
    val i = iso.getStruct(iso.fieldIndex("isolate"))
    assert(i.getAs[String]("code") == "KLEPN") // trailing space stripped
    assert(i.getAs[String]("name") == "Klebsiella pneumoniae")
    assert(i.getAs[String]("quantity") == "10,000 - 100,000 CFU/mL")
    assert(i.getAs[String]("clinicalInfo") == "Pen allergy") // from child order
    val sens = i.getSeq[Row](i.fieldIndex("sensitivities"))
    assert(sens.map(s => (s.getAs[String]("testCode"), s.getAs[String]("stringValue"))) ==
      Seq(("VAMP", "S")))
    val wcc = rs.find(_.getAs[String]("testCode") == "WCC").get
    assert(wcc.getAs[Double]("numericValue") == 11.5)
    assert(wcc.getAs[String]("resultOperator") == "=")
    assert(wcc.getAs[Double]("refLow") == 4.0)
    assert(wcc.getAs[Double]("refHigh") == 11.0)
    assert(wcc.getAs[String]("abnormalFlag") == "H")
  }

  test("WinPath ORU: sensitivity with no parent errors") {
    val orphan = Seq(
      "MSH|^~\\&|WinPath|UCLH|||20240501120000||ORU^R01|LAB02|P|2.4",
      "ORC|RE|94000002|12345678901||CM",
      hseg("OBR", 1 -> "1", 2 -> "94000002", 3 -> "12345678901",
        4 -> "SENS^Sens^WinPath", 7 -> "20240501100000", 25 -> "F",
        26 -> "ISOLATE&Isolate&WinPath^9"),
      "OBX|1|ST|VAMP^Vancomycin^WinPath||S||||||F").mkString("\r")
    val rows = LabFunnel.parseWinPathResults(df(orphan), "raw").collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[String]("error") == "sensitivity_parent_missing")
  }

  private val b64 = java.util.Base64.getEncoder
    .encodeToString("Hello PDF report".getBytes("US-ASCII"))

  private val b64a = b64.substring(0, 8)
  private val b64b = b64.substring(8)

  private val coPathOru = Seq(
    "MSH|^~\\&|Bridges|UCLH|||20240501120000||ORU^R01|CP01|P|2.4",
    "PID|1||40800000^^^MRN^MRN",
    "ORC|RE|UH24-1234|UH24-1234||CM",
    hseg("OBR", 1 -> "1", 2 -> "UH24-1234", 3 -> "UH24-1234",
      4 -> "H^Histology^CPEAP", 7 -> "20240501100000",
      22 -> "20240501113000", 24 -> "CP", 25 -> "F"),
    "OBX|1|TX|UH24-1234^^CPEAP||Specimen received intact||||||F",
    "OBX|2|TX|UH24-1234^^CPEAP||Sections show no malignancy||||||F",
    // PDF payload split across two ED segments (concatenated on parse)
    "OBX|3|ED|UH24-1234^^CPEAP||Content-Type: text/plain; charset=US-ASCII; " +
      "name=rpt.pdf; Content-transfer-encoding: base64" + b64a + "||||||F",
    "OBX|4|ED|UH24-1234^^CPEAP||" + b64b + "||||||F"
  ).mkString("\r")

  // a message whose whole ED group is the bare "MIME" placeholder
  private val coPathMimeOnly = Seq(
    "MSH|^~\\&|Bridges|UCLH|||20240501120000||ORU^R01|CP09|P|2.4",
    "ORC|RE|UH24-9|UH24-9||CM",
    hseg("OBR", 1 -> "1", 2 -> "UH24-9", 3 -> "UH24-9",
      4 -> "C^Cyto^CPEAP", 7 -> "20240501100000"),
    "OBX|1|ED|UH24-9^^CPEAP||MIME||||||F"
  ).mkString("\r")

  test("golden CoPath ORU: text report joins, PDF decodes, MIME marker ignored") {
    val mimeRows = LabFunnel.parseCoPath(df(coPathMimeOnly), "raw").collect()
    assert(mimeRows.length == 1)
    assert(mimeRows.head.getSeq[Row](
      mimeRows.head.fieldIndex("coPathResults")).isEmpty)

    val rows = LabFunnel.parseCoPath(df(coPathOru), "raw").collect()
    assert(rows.length == 1)
    val o = rows.head
    // internal lab number repeated in ORC-2 → no epic order number
    assert(o.isNullAt(o.fieldIndex("epicOrderNumber")))
    assert(o.getAs[String]("labSpecimenNumber") == "UH24-1234")
    // Epic H/C battery remap
    assert(o.getAs[String]("battery") == "UH")
    val rs = o.getSeq[Row](o.fieldIndex("coPathResults"))
    assert(rs.length == 2) // TX group + real ED (MIME-only dropped)
    val tx = rs.find(_.getAs[String]("valueType") == "TX").get
    assert(tx.getAs[String]("mimeType") == "TEXT")
    assert(tx.getAs[String]("stringValue") ==
      "Specimen received intact\nSections show no malignancy")
    val ed = rs.find(_.getAs[String]("valueType") == "ED").get
    assert(ed.getAs[String]("mimeType") == "PDF")
    assert(new String(ed.getAs[Array[Byte]]("byteValue"), "US-ASCII") ==
      "Hello PDF report")
    assert(ed.isNullAt(ed.fieldIndex("error")))
  }

  test("CoPath errors: unknown OBX type and non-base64 payloads") {
    val badType = Seq(
      "MSH|^~\\&|Bridges|UCLH|||20240501||ORU^R01|CP02|P|2.4",
      "ORC|RE|UH24-5^^^|UH24-5||CM",
      "OBR|1|UH24-5|UH24-5|C^Cyto^CPEAP|||20240501100000",
      "OBX|1|NM|UH24-5^^CPEAP||42||||||F").mkString("\r")
    val badB64 = Seq(
      "MSH|^~\\&|Bridges|UCLH|||20240501||ORU^R01|CP03|P|2.4",
      "ORC|RE|UH24-6|UH24-6||CM",
      "OBR|1|UH24-6|UH24-6|C^Cyto^CPEAP|||20240501100000",
      "OBX|1|ED|UH24-6^^CPEAP||not base64 at all||||||F").mkString("\r")
    val got = LabFunnel.parseCoPath(df(badType, badB64), "raw")
      .select(col("sourceMessageId"),
        col("coPathResults").getField("error").getItem(0))
      .as[(String, String)].collect().toMap
    assert(got("CP02_01") == "copath_obx_type:NM")
    assert(got("CP03_01") == "copath_encoding_unexpected")
  }

  private val ablR30 = Seq(
    "MSH|^~\\&|ABL90 FLEX Plus|UCLH|||20240501120000||ORU^R30|ABL01|P|2.4",
    "PID|1||40800000^^^MRN^MRN",
    "PV1|1|I|ED|||||||||||||||||666777",
    "OBR|1|12345^A|54321^B|VBG^Venous blood gas|||20240501115500|||||||20240501115800|" +
      "Venous blood&Blood venous",
    "OBX|1|NM|pH^pH^ABL|1|7.35|||N|||F|||20240501115900",
    "OBX|2|NM|pCO2^pCO2^ABL|2|<5.5|kPa^kPa||H|||F|||20240501115900",
    "OBX|3|NM|Lac^Lactate^ABL|3|junk|mmol/L|||||F|||20240501115900"
  ).mkString("\r")

  test("golden ABL90 ORU^R30: numeric coercion, operators, normal-flag suppression") {
    val rows = LabFunnel.parseAbl90(df(ablR30), "raw").collect()
    assert(rows.length == 1)
    val o = rows.head
    assert(o.getAs[String]("sourceMessageId") == "ABL01") // plain unid
    assert(o.getAs[String]("codingSystem") == "ABL90_FLEX_PLUS")
    assert(o.getAs[String]("labSpecimenNumber") == "54321")
    assert(o.getAs[String]("specimenType") == "Venous blood")
    // all order temporal fields from OBR-14 (specimen received)
    val t = o.getAs[Long]("sampleReceivedTimeUs")
    assert(o.getAs[Long]("orderTimeUs") == t)
    assert(o.getAs[Long]("statusChangeTimeUs") == t)
    val rs = o.getSeq[Row](o.fieldIndex("results"))
    val ph = rs.find(_.getAs[String]("testCode") == "pH").get
    assert(ph.getAs[Double]("numericValue") == 7.35)
    assert(ph.getAs[String]("resultOperator") == "=")
    assert(ph.isNullAt(ph.fieldIndex("abnormalFlag"))) // N suppressed
    assert(ph.getAs[String]("mimeType") == "NUMERIC")
    val pco2 = rs.find(_.getAs[String]("testCode") == "pCO2").get
    assert(pco2.getAs[Double]("numericValue") == 5.5)
    assert(pco2.getAs[String]("resultOperator") == "<")
    assert(pco2.getAs[String]("abnormalFlag") == "H")
    assert(pco2.getAs[String]("units") == "kPa")
    val lac = rs.find(_.getAs[String]("testCode") == "Lac").get
    assert(lac.isNullAt(lac.fieldIndex("numericValue")))
    assert(lac.getAs[Boolean]("numericDelete")) // unparseable → delete
    assert(lac.getAs[String]("stringValue") == "junk")
  }

  test("ABL90 proficiency-testing message is flagged for the dead letter") {
    val testing = Seq(
      "MSH|^~\\&|ABL90 FLEX Plus|UCLH|||20240501||ORU^R30|ABL02|P|2.4",
      "OBR|1|1^A|2^B|VBG^Gas|||20240501115500|||||||20240501115800|Proficiency Testing",
      "OBX|1|NM|pH^pH||7.4|||||F").mkString("\r")
    val r = LabFunnel.parseAbl90(df(testing), "raw").collect().head
    assert(r.getAs[String]("error") == "testing_message")
  }

  test("golden BIO-CONNECT: placer specimen number, single-OBX rule") {
    val ok = Seq(
      "MSH|^~\\&|BIO-CONNECT|UCLH|||20240501120000||ORU^R01|BC01|P|2.4",
      "PID|1||40800000^^^MRN^MRN",
      "ORC|RE",
      "OBR|1|PLACER9^X|FILLER1^Y|GLU^Glucose|||20240501115500|||||||20240501115800",
      "OBX|1|NM|GLU^Glucose^BC||5.1|mmol/L||N|||F|||20240501115900").mkString("\r")
    val two = Seq(
      "MSH|^~\\&|BIO-CONNECT|UCLH|||20240501120000||ORU^R01|BC02|P|2.4",
      "ORC|RE",
      "OBR|1|P1^X|F1^Y|GLU^Glucose|||20240501115500|||||||20240501115800",
      "OBX|1|NM|GLU^Glucose||5.1|||||F",
      "OBX|2|NM|K^Potassium||4.0|||||F").mkString("\r")
    // order groups: an NTE above the first OBR belongs to no order, an
    // OBR directly followed by the next one owns nothing, and the last
    // OBR owns the message tail
    val edges = Seq(
      "MSH|^~\\&|BIO-CONNECT|UCLH|||20240501120000||ORU^R01|BC03|P|2.4",
      "NTE|1||before any order",
      "ORC|RE",
      "OBR|1|P3^X|F3^Y|GLU^Glucose|||20240501115500|||||||20240501115800",
      "OBR|2|P4^X|F4^Y|K^Potassium|||20240501115500|||||||20240501115800",
      "OBX|1|NM|K^Potassium||4.0|||||F",
      "NTE|1||tail note").mkString("\r")
    val rows = LabFunnel.parseBioConnect(df(ok, two, edges), "raw")
      .orderBy("sourceMessageId", "labSpecimenNumber").collect()
    val o = rows(0)
    assert(o.getAs[String]("sourceMessageId") == "BC01")
    assert(o.getAs[String]("labSpecimenNumber") == "PLACER9")
    assert(o.isNullAt(o.fieldIndex("requestedTimeUs"))) // deliberately unknown
    assert(o.isNullAt(o.fieldIndex("error")))
    assert(rows(1).getAs[String]("error") == "bioconnect_not_single_obx")
    val empty = rows(2)
    assert(empty.getAs[String]("labSpecimenNumber") == "P3")
    assert(empty.getSeq[Row](empty.fieldIndex("results")).isEmpty)
    assert(empty.isNullAt(empty.fieldIndex("comments")))
    assert(empty.getAs[String]("error") == "bioconnect_not_single_obx")
    val tail = rows(3)
    assert(tail.getAs[String]("labSpecimenNumber") == "P4")
    assert(tail.getAs[String]("comments") == "tail note")
    assert(tail.getSeq[Row](tail.fieldIndex("results"))
      .map(r => (r.getAs[String]("testCode"), r.getAs[String]("notes"))) ==
      Seq(("K", "tail note")))
    assert(tail.isNullAt(tail.fieldIndex("error")))
  }

  test("golden Bank Manager: OBR temporal split, notes → clinical info, CA delete") {
    val ca = Seq(
      "MSH|^~\\&|BM|UCLH|||20240501120000||ORU^R01|BM01|P|2.4",
      "PID|1||40800000^^^MRN^MRN",
      "ORC|CA|EP123",
      "OBR|1|EP123|SPEC77|PROF1^Profile^^Profiles|||20240501100000|||||||||||||||20240501113000",
      "NTE|1||Crossmatch urgently",
      "NTE|2||Theatre booked",
      "OBX|1|ST|ABO^Blood group||A Pos||||||F").mkString("\r")
    val o = LabFunnel.parseBankManager(df(ca), "raw").collect().head
    assert(o.getAs[String]("sourceMessageId") == "BM01")
    assert(o.getAs[String]("codingSystem") == "BANK_MANAGER")
    assert(o.getAs[String]("labDepartment") == "BANK_MANAGER")
    assert(o.getAs[String]("labSpecimenNumber") == "SPEC77")
    assert(o.getAs[String]("clinicalInfo") == "Crossmatch urgently\nTheatre booked")
    assert(o.getAs[Boolean]("epicOrderDelete"))
    assert(o.isNullAt(o.fieldIndex("epicOrderNumber")))
    // order time from OBR-7, status change from OBR-22
    assert(o.getAs[Long]("orderTimeUs") != o.getAs[Long]("statusChangeTimeUs"))
  }

  private val imgOru = Seq(
    "MSH|^~\\&|IMG_RESULT|UCLH|||20240501120000||ORU^R01|IMG01|P|2.4",
    "PID|1||40800000^^^MRN^MRN",
    "ORC|RE|EPIC123|ACC456",
    "OBR|1|EPIC123|ACC456|XR^Chest Xray|||20240501100000|||||||||||||||20240501113000|||F",
    "NTE|1||Clinical question=Fracture?",
    "OBX|1|TX|INDICATIONS^^||Cough||||||F",
    "OBX|2|TX|GDT^^||Narrative line 1||||||F",
    "OBX|3|TX|GDT^^||Signed by:||||||F",
    "OBX|4|TX|GDT^^||Dr Who||||||F",
    "OBX|5|TX|IMP^^||No acute disease||||||F"
  ).mkString("\r")

  test("golden PACS imaging: report sections, signature split, epic vs accession") {
    val rows = LabFunnel.parseImage(df(imgOru), "raw").collect()
    assert(rows.length == 1)
    val o = rows.head
    assert(o.getAs[String]("epicOrderNumber") == "EPIC123")
    assert(o.getAs[String]("labSpecimenNumber") == "ACC456")
    val qs = o.getSeq[Row](o.fieldIndex("questions"))
    assert(qs.map(q => (q.getAs[String]("question"), q.getAs[String]("answer"))) ==
      Seq(("Clinical question", "Fracture?")))
    val rs = o.getSeq[Row](o.fieldIndex("imageResults"))
    assert(rs.map(r => (r.getAs[String]("testCode"), r.getAs[String]("stringValue"))) ==
      Seq(
        ("INDICATIONS", "Cough"),
        ("NARRATIVE", "Narrative line 1"),
        ("SIGNATURE", "Signed by:\nDr Who"),
        ("IMPRESSION", "No acute disease")))
  }

  test("PACS imaging: epic number suppressed when it repeats the accession") {
    val same = Seq(
      "MSH|^~\\&|IMG_RESULT|UCLH|||20240501||ORU^R01|IMG02|P|2.4",
      "ORC|RE|ACC456|ACC456",
      "OBR|1|ACC456|ACC456|XR^Xray|||20240501100000|||||||||||||||20240501113000|||F",
      "OBX|1|TX|GDT^^||All normal||||||F").mkString("\r")
    val o = LabFunnel.parseImage(df(same), "raw").collect().head
    assert(o.isNullAt(o.fieldIndex("epicOrderNumber")))
  }
}
