package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sources.Hl7Wire

/** Golden wire-parse tests: raw HL7 v2 → interchange rows equal
  * hand-written expected values (the reference's
  * TestHl7ParsingMatchesInterchangeFactoryOutput pattern).
  */
class Hl7WireSpec extends SparkSpecBase {
  import spark.implicits._

  private def seg(fields: String*): String = fields.mkString("|")
  private def pv1To19(loc: String, visit: String): String =
    (Seq("PV1", "1", "I", loc) ++ Seq.fill(15)("") :+ visit).mkString("|")

  private val adtRaw = Seq(
    "MSH|^~\\&|EPIC|UCLH|||20240102030405||ADT^A01|MSG001|P|2.4",
    "EVN|A01|20240102030405||||20240102030400",
    "PID|1||40800000^^^MRN^MRN~9999999999^^^NHS^NHSNMBR||ORANGE^Zest||19800101|F",
    pv1To19("T11E^T11E BY02^BY02-17", "123412341234")
  ).mkString("\r")

  test("golden ADT A01 parses to the interchange shape") {
    val r = Hl7Wire.parseAdt(Seq(adtRaw).toDF("raw"), "raw").collect().head
    assert(r.getAs[String]("msgType") == "Admit")
    assert(r.getAs[String]("trigger") == "A01")
    assert(r.getAs[String]("sourceMessageId") == "MSG001")
    assert(r.getAs[String]("sourceSystem") == "EPIC")
    // 2024-01-02T03:04:05Z / 03:04:00Z
    assert(r.getAs[Long]("recordedDateTimeUs") == 1704164645000000L)
    assert(r.getAs[Long]("eventOccurredDateTimeUs") == 1704164640000000L)
    assert(r.getAs[String]("mrn") == "40800000")
    assert(r.getAs[String]("nhsNumber") == "9999999999")
    assert(r.getAs[String]("visitNumber") == "123412341234")
    assert(r.getAs[String]("fullLocationString") == "T11E^T11E BY02^BY02-17")
    assert(r.getAs[String]("patientClass") == "I")
    assert(r.getAs[String]("patientGivenName") == "Zest")
    assert(r.getAs[String]("patientFamilyName") == "ORANGE")
    assert(r.isNullAt(r.fieldIndex("admissionDateTimeUs")))
    // X1 best-guess: occurred wins over recorded
    assert(r.getAs[Long]("validFromUs") == 1704164640000000L)
  }

  test("trigger routing covers the full AdtMessageFactory dispatch") {
    val expected = Map(
      "A01" -> "Admit", "A02" -> "Transfer", "A03" -> "Discharge",
      "A04" -> "Register", "A05" -> "ImpliedAdt",
      "A06" -> "Transfer", "A07" -> "Transfer",
      "A08" -> "UpdateInfo", "A28" -> "UpdateInfo", "A31" -> "UpdateInfo",
      "A11" -> "CancelAdmit", "A12" -> "CancelTransfer",
      "A13" -> "CancelDischarge",
      "A14" -> "Unhandled:scheduling:A14", "A38" -> "Unhandled:scheduling:A38",
      "A15" -> "PendingTransfer", "A17" -> "SwapLocations",
      "A26" -> "CancelPendingTransfer", "A29" -> "DeletePersonInformation",
      "A40" -> "MergePatient", "A45" -> "MoveVisit",
      "A47" -> "ChangeIdentifiers", "A99" -> "Unhandled:A99")
    val raws = expected.keys.toSeq.map(t =>
      s"MSH|^~\\&|S|F|||20240101000000||ADT^$t|M$t|P|2.4")
    val got = Hl7Wire.parseAdt(raws.toDF("raw"), "raw")
      .select("trigger", "msgType").as[(String, String)].collect().toMap
    assert(got == expected)
  }

  test("A04 register is dropped when EVN-4 says ENC_CREATE") {
    val raws = Seq(
      "MSH|^~\\&|S|F|||20240101000000||ADT^A04|M1|P|2.4\r" +
        "EVN|A04|20240101000000||ENC_CREATE",
      "MSH|^~\\&|S|F|||20240101000000||ADT^A04|M2|P|2.4\r" +
        "EVN|A04|20240101000000||ADMIT")
    val got = Hl7Wire.parseAdt(raws.toDF("raw"), "raw")
      .select("sourceMessageId", "msgType").as[(String, String)]
      .collect().toMap
    assert(got == Map("M1" -> "Unhandled:ENC_CREATE", "M2" -> "Register"))
  }

  test("golden A40/A45/A47: MRG previous identifiers and prior visit") {
    val merge = Seq(
      "MSH|^~\\&|EPIC|F|||20240101000000||ADT^A40|M1|P|2.4",
      "PID|1||SURV^^^MRN^MRN||X^Y",
      "MRG|OLD^^^MRN^MRN~9111^^^NHS^NHSNMBR").mkString("\r")
    val move = Seq(
      "MSH|^~\\&|EPIC|F|||20240101000000||ADT^A45|M2|P|2.4",
      "PID|1||P2^^^MRN^MRN",
      "MRG|OLDP^^^MRN^MRN||||V900",
      pv1To19("LOC^A^B", "V901")).mkString("\r")
    val rows = Hl7Wire.parseAdt(Seq(merge, move).toDF("raw"), "raw")
      .orderBy("sourceMessageId").collect()
    val m = rows(0)
    assert(m.getAs[String]("msgType") == "MergePatient")
    assert(m.getAs[String]("mrn") == "SURV")
    assert(m.getAs[String]("previousMrn") == "OLD")
    assert(m.getAs[String]("previousNhsNumber") == "9111")
    val v = rows(1)
    assert(v.getAs[String]("msgType") == "MoveVisit")
    assert(v.getAs[String]("previousMrn") == "OLDP")
    assert(v.getAs[String]("previousVisitNumber") == "V900")
    assert(v.getAs[String]("visitNumber") == "V901")
  }

  test("golden A17 swap: second PID/PV1 group is the other patient") {
    val swap = Seq(
      "MSH|^~\\&|EPIC|F|||20240101000000||ADT^A17|M1|P|2.4",
      "PID|1||P1^^^MRN^MRN~9001^^^NHS^NHSNMBR",
      pv1To19("WARD1^R1^B1", "V1"),
      "PID|2||P2^^^MRN^MRN~9002^^^NHS^NHSNMBR",
      pv1To19("WARD2^R2^B2", "V2")).mkString("\r")
    val r = Hl7Wire.parseAdt(Seq(swap).toDF("raw"), "raw").collect().head
    assert(r.getAs[String]("msgType") == "SwapLocations")
    assert(r.getAs[String]("mrn") == "P1")
    assert(r.getAs[String]("visitNumber") == "V1")
    assert(r.getAs[String]("fullLocationString") == "WARD1^R1^B1")
    assert(r.getAs[String]("otherMrn") == "P2")
    assert(r.getAs[String]("otherNhsNumber") == "9002")
    assert(r.getAs[String]("otherVisitNumber") == "V2")
    assert(r.getAs[String]("otherFullLocationString") == "WARD2^R2^B2")
  }

  test("golden A15/A26: pending destination from PV1-42; A03 extras") {
    def pv1With42(loc: String, visit: String, pending: String) =
      (Seq("PV1", "1", "I", loc) ++ Seq.fill(15)("") :+ visit) // …-19
        .padTo(42, "").:+(pending).mkString("|")
    val pend = Seq(
      "MSH|^~\\&|EPIC|F|||20240101000000||ADT^A15|M1|P|2.4",
      pv1With42("HERE^A^B", "V1", "THERE^C^D")).mkString("\r")
    val disch = Seq(
      "MSH|^~\\&|EPIC|F|||20240101000000||ADT^A03|M2|P|2.4",
      (Seq("PV1", "1", "I", "HERE^A^B") ++ Seq.fill(15)("") :+ "V2")
        .padTo(36, "").++(Seq("HOME", "DISLOC")).mkString("|")).mkString("\r")
    val rows = Hl7Wire.parseAdt(Seq(pend, disch).toDF("raw"), "raw")
      .orderBy("sourceMessageId").collect()
    assert(rows(0).getAs[String]("msgType") == "PendingTransfer")
    assert(rows(0).getAs[String]("pendingDestination") == "THERE^C^D")
    assert(rows(1).getAs[String]("msgType") == "Discharge")
    assert(rows(1).getAs[String]("dischargeDisposition") == "HOME")
    assert(rows(1).getAs[String]("dischargeLocation") == "DISLOC")
  }

  test("golden A05 ZIF: one infection row per repetition; progress gate") {
    val raw = Seq(
      "MSH|^~\\&|EPIC|F|||20240103000000||ADT^A05|M1|P|2.4",
      "EVN|A05|20240103000000",
      "PID|1||P1^^^MRN^MRN",
      "ZIF|Covid^20240102000000^20240110000000~Flu^20240101000000").mkString("\r")
    val rows = Hl7Wire.parseInfections(Seq(raw).toDF("raw"), "raw")
      .orderBy("infectionIdx").collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[String]("conditionCode") == "Covid")
    assert(rows(0).getAs[Long]("addedTimeUs") == 1704153600000000L)
    assert(rows(0).getAs[Long]("resolvedTimeUs") == 1704844800000000L)
    assert(rows(0).getAs[String]("mrn") == "P1")
    assert(rows(1).getAs[String]("conditionCode") == "Flu")
    assert(rows(1).isNullAt(rows(1).fieldIndex("resolvedTimeUs")))

    // the serial progress fold: Covid (Jan 2) advances the mark, so the
    // older Flu (Jan 1) rep is rejected — exactly the reference's replay
    val gated = Hl7Wire.infectionGate(
      Hl7Wire.parseInfections(Seq(raw).toDF("raw"), "raw"),
      serviceStartUs = 0L,
      orderCols = Seq("sourceMessageId", "infectionIdx"))
    assert(gated.select("conditionCode").as[String].collect().toSeq ==
      Seq("Covid"))
  }

  test("infection gate matches serial replay over a permuted stream") {
    // added times per message: 10, 5, 12, 12, 3 → serial replay keeps
    // 10, 12, 12 (progress never goes backwards, ties accepted)
    val added = Seq(10L, 5L, 12L, 12L, 3L)
    val raws = added.zipWithIndex.map { case (a, i) =>
      val dtm = f"202401010000${a}%02d"
      s"MSH|^~\\&|EPIC|F|||20240101000000||ADT^A05|M$i|P|2.4\r" +
        s"PID|1||P$i^^^MRN^MRN\rZIF|Inf$i^$dtm"
    }
    val gated = Hl7Wire.infectionGate(
      Hl7Wire.parseInfections(raws.toDF("raw"), "raw"),
      serviceStartUs = 0L,
      orderCols = Seq("sourceMessageId", "infectionIdx"))
    assert(gated.select("conditionCode").as[String].collect().toSeq ==
      Seq("Inf0", "Inf2", "Inf3"))
  }

  test("infection gate is invariant to input row order (sorts by source)") {
    val added = Seq(10L, 5L, 12L, 12L, 3L)
    val raws = added.zipWithIndex.map { case (a, i) =>
      s"MSH|^~\\&|EPIC|F|||20240101000000||ADT^A05|M$i|P|2.4\r" +
        s"PID|1||P$i^^^MRN^MRN\rZIF|Inf$i^202401010000${f"$a%02d"}"
    }
    def gated(rs: Seq[String]) = Hl7Wire.infectionGate(
        Hl7Wire.parseInfections(rs.toDF("raw"), "raw"),
        serviceStartUs = 0L,
        orderCols = Seq("sourceMessageId", "infectionIdx"))
      .select("conditionCode").as[String].collect().toSeq
    val expect = gated(raws)
    assert(gated(raws.reverse) == expect)
    assert(gated(scala.util.Random.shuffle(raws)) == expect)
  }

  test("golden A60 IAM: allergy fields, action mapping, reactions, error") {
    val raw = Seq(
      "MSH|^~\\&|EPIC|F|||20240102000000||ADT^A60|M1|P|2.4",
      "EVN|A60|20240102000000",
      "PID|1||P1^^^MRN^MRN",
      "IAM|1|DA^Drug|1^PENICILLIN^ALG|SV^Severe|RASH^R~HIVES|A|771^EPIC" +
        "||||20230115||20240101000000||||Active",
      "IAM|2|FA^Food|2^NUTS^ALG||ANAPHYLAXIS|D|772^EPIC" +
        "||||||20240101000000||||Resolved",
      "IAM|3|DA^Drug|3^ASPIRIN^ALG||X1|Q|773^EPIC").mkString("\r")
    val rows = Hl7Wire.parseAllergies(Seq(raw).toDF("raw"), "raw")
      .orderBy("allergyIdx").collect()
    assert(rows.length == 3)
    val a = rows(0)
    assert(a.getAs[String]("subType") == "DA")
    assert(a.getAs[String]("conditionCode") == "PENICILLIN")
    assert(a.getAs[String]("severity") == "SV")
    assert(a.getSeq[String](a.fieldIndex("reactions")) == Seq("RASH", "HIVES"))
    assert(a.getAs[String]("action") == "AD")
    assert(a.getAs[Long]("epicConditionId") == 771L)
    assert(a.getAs[String]("onsetDate") == "2023-01-15")
    assert(a.getAs[Long]("addedTimeUs") == 1704067200000000L)
    assert(a.getAs[String]("mrn") == "P1")
    assert(a.isNullAt(a.fieldIndex("error")))
    assert(rows(1).getAs[String]("action") == "DE")
    // unknown action code → error channel, not a throw
    assert(rows(2).isNullAt(rows(2).fieldIndex("action")))
    assert(rows(2).getAs[String]("error") == "invalid_allergy_action:Q")
  }

  test("golden PPR comments: NTEs under a PRB space-join into its comment") {
    val raw = Seq(
      "MSH|^~\\&|EPIC|PL|||20240101000000|X|PPR^PC1|M1|P|2.4",
      "PID|1||P1^^^MRN^MRN",
      "PRB|AD|20240101000000|C1^One^I10|1",
      "NTE|1||first note~second rep",
      "NTE|2||third",
      "PRB|AD|20240101000000|C2^Two^I10|2",
      "PRB|AD|20240101000000|C3^Three^I10|3",
      "NTE|1||only for three").mkString("\r")
    // an NTE above the first PRB belongs to no problem
    val headNote = Seq(
      "MSH|^~\\&|EPIC|PL|||20240101000000|X|PPR^PC1|M2|P|2.4",
      "PID|1||P2^^^MRN^MRN",
      "NTE|1||before any problem",
      "PRB|AD|20240101000000|C4^Four^I10|4").mkString("\r")
    val rows = Hl7Wire.parseProblems(Seq(raw, headNote).toDF("raw"), "raw")
      .orderBy("conditionCode").select("conditionCode", "comment")
      .as[(String, Option[String])].collect().toSeq
    // C2 owns nothing; C3, the last PRB, owns the message tail
    assert(rows == Seq(
      ("C1", Some("first note second rep third")),
      ("C2", None),
      ("C3", Some("only for three")),
      ("C4", None)))
  }

  test("golden demographics: PID/PV2 fields the factory reads") {
    val pidFields = Seq("PID", "1", "", "P1^^^MRN^MRN", "",
        "PLUM^Victoria^May^^Ms", "", "", "F", "", "",
        "12 Road^^London^^NW1 2BU").padTo(17, "").:+("CofE")
      .padTo(22, "").:+("A~B")
      .padTo(29, "").:+("20240301123000").:+("Y")
    val pv2Fields = Seq("PV2").padTo(38, "").:+("A&E")
    val raw = Seq(
      "MSH|^~\\&|EPIC|F|||20240101000000||ADT^A08|M1|P|2.4",
      pidFields.mkString("|"),
      "PV1|1|I|W^R^B|||OLD^O^L",
      pv2Fields.mkString("|")).mkString("\r")
    val r = Hl7Wire.parseAdt(Seq(raw).toDF("raw"), "raw").collect().head
    assert(r.getAs[String]("patientMiddleName") == "May")
    assert(r.getAs[String]("patientTitle") == "Ms")
    assert(r.getAs[String]("patientSex") == "F")
    assert(r.getAs[String]("patientZipOrPostalCode") == "NW1 2BU")
    assert(r.getAs[String]("patientReligion") == "CofE")
    assert(r.getAs[String]("ethnicGroupCode") == "A")
    assert(r.getAs[String]("previousLocation") == "OLD^O^L")
    assert(r.getAs[String]("modeOfArrival") == "A&E")
    // death info: indicator Y → not alive, with the death time kept
    assert(r.getAs[Boolean]("patientIsAlive") == false)
    assert(r.getAs[Long]("patientDeathDateTimeUs") == 1709296200000000L)
    assert(r.getAs[String]("patientClassName") == "INPATIENT")

    // tri-state: absent indicator leaves isAlive null (IGNORE)
    val bare = "MSH|^~\\&|S|F|||20240101000000||ADT^A08|M2|P|2.4\r" +
      "PID|1||P2^^^MRN^MRN"
    val b = Hl7Wire.parseAdt(Seq(bare).toDF("raw"), "raw").collect().head
    assert(b.isNullAt(b.fieldIndex("patientIsAlive")))

    // ethnic-group lookup maps codes, passes unknowns through
    val mapped = Seq(("A", ""), ("Z", "")).toDF("code", "x")
      .select(Hl7Wire.ethnicGroupName(col("code"),
        Map("A" -> "British")).as("name"))
      .as[String].collect().toSeq
    assert(mapped == Seq("British", "Z"))
  }

  test("router: A60→allergies, A05→adt+infections, R01→impliedAdt, sender gate") {
    val raws = Seq(
      "MSH|^~\\&|EPIC|F|||20240101000000||ADT^A05|R1|P|2.4\r" +
        "PID|1||P1^^^MRN^MRN\rZIF|Covid^20240102000000",
      "MSH|^~\\&|EPIC|F|||20240101000000||ADT^A60|R2|P|2.4\r" +
        "PID|1||P2^^^MRN^MRN\rIAM|1|DA^D|1^PEN^ALG||R|A|7^E",
      "MSH|^~\\&|ROGUE|F|||20240101000000||ADT^A01|R3|P|2.4\r" +
        "PID|1||P3^^^MRN^MRN",
      "MSH|^~\\&|WP|UCLH|||20240101000000||ORU^R01|R4|P|2.4\r" +
        "PID|1||P4^^^MRN^MRN\rOBR|1||O1^LAB|FBC^F^WinPath|||20240101000000")
    val r = Hl7Wire.route(raws.toDF("raw"), "raw",
      adtSenderAllowlist = Seq("EPIC"))
    assert(r.adt.select("sourceMessageId").as[String].collect().toSeq ==
      Seq("R1")) // A05 parses as ImpliedAdt; A60 routes away; ROGUE gated
    assert(r.adt.select("msgType").as[String].collect().toSeq ==
      Seq("ImpliedAdt"))
    assert(r.infections.select("conditionCode").as[String].collect()
      .toSeq == Seq("Covid"))
    assert(r.allergies.select("conditionCode").as[String].collect()
      .toSeq == Seq("PEN"))
    // the lab message also yields implied person/visit context
    assert(r.impliedAdt.select("sourceMessageId", "msgType")
      .as[(String, String)].collect().toSeq == Seq(("R4", "ImpliedAdt")))
    assert(r.dead.select("reason").as[String].collect().toSeq ==
      Seq("skipped_sender:ROGUE"))
  }

  test("adtOps demux feeds the cross-key operators' input shapes") {
    val raws = Seq(
      "MSH|^~\\&|EPIC|F|||20240101000001||ADT^A15|M1|P|2.4\r" +
        ((Seq("PV1", "1", "I", "HERE^A^B") ++ Seq.fill(15)("") :+ "V1")
          .padTo(42, "") :+ "DEST^C^D").mkString("|"),
      "MSH|^~\\&|EPIC|F|||20240101000002||ADT^A26|M2|P|2.4\r" +
        ((Seq("PV1", "1", "I", "HERE^A^B") ++ Seq.fill(15)("") :+ "V1")
          .padTo(42, "") :+ "DEST^C^D").mkString("|"),
      "MSH|^~\\&|EPIC|F|||20240101000003||ADT^A40|M3|P|2.4\r" +
        "PID|1||SURV^^^MRN^MRN\rMRG|OLD^^^MRN^MRN",
      "MSH|^~\\&|EPIC|F|||20240101000004||ADT^A29|M4|P|2.4\r" +
        "PID|1||GONE^^^MRN^MRN")
    val ops = Hl7Wire.adtOps(
      Hl7Wire.parseAdt(raws.toDF("raw"), "raw"))
    val pend = graft.operators.PendingMovements.derive(
      ops.pendings, ops.pendingCancels, matchWindowUs = 3600L * 1000000L)
      .collect().head
    assert(pend.getAs[String]("visitId") == "V1")
    assert(pend.getAs[Long]("requestTsUs") == 1704067201000000L)
    assert(pend.getAs[Long]("cancelledTsUs") == 1704067202000000L)
    assert(ops.merges.as[(String, String)].collect().toSeq ==
      Seq(("OLD", "SURV")))
    assert(ops.personDeletes.select("mrn").as[String].collect().toSeq ==
      Seq("GONE"))
  }

  test("golden ORU: OBR order + repeated OBX results explode per row") {
    val oruRaw = Seq(
      "MSH|^~\\&|WINPATH|UCLH|||20240102030405||ORU^R01|MSG002|P|2.4",
      "PID|1||40800000^^^MRN^MRN",
      "OBR|1||ORD123^LAB|FBC^Full Blood Count|||20240102030405",
      "OBX|1|NM|HGB^Hemoglobin||13.5|g/dL|||||F|||20240102030405",
      "OBX|2|ST|WCC^White Cells||pending review||||||P"
    ).mkString("\r")
    val df = Seq(oruRaw).toDF("raw")

    val obr = Hl7Wire.parseObr(df, "raw").collect()
    assert(obr.length == 1)
    assert(obr.head.getAs[String]("fillerOrderNumber") == "ORD123")
    assert(obr.head.getAs[String]("testId") == "FBC")
    assert(obr.head.getAs[Long]("observationDateTimeUs") == 1704164645000000L)

    val obx = Hl7Wire.parseObx(df, "raw").orderBy("obxSetId").collect()
    assert(obx.length == 2)
    assert(obx(0).getAs[String]("observationId") == "HGB")
    assert(obx(0).getAs[String]("valueType") == "NM")
    assert(obx(0).getAs[String]("value") == "13.5")
    assert(obx(0).getAs[String]("units") == "g/dL")
    assert(obx(0).getAs[String]("resultStatus") == "F")
    assert(obx(0).getAs[Long]("obsTimeUs") == 1704164645000000L)
    assert(obx(1).getAs[String]("observationId") == "WCC")
    assert(obx(1).getAs[String]("resultStatus") == "P")
    assert(obx(1).isNullAt(obx(1).fieldIndex("obsTimeUs")))
  }

  test("golden ORU: multi-OBR message nests each order's own OBX set") {
    // Two orders in one message; positional grouping: OBX 1-2 belong to
    // the FBC order, OBX 3 to the U&E order (the lab-builder contract).
    val oruRaw = Seq(
      "MSH|^~\\&|WINPATH|UCLH|||20240102030405||ORU^R01|MSG003|P|2.4",
      "PID|1||40800000^^^MRN^MRN",
      "OBR|1||ORD1^LAB|FBC^Full Blood Count^WinPath|||20240102030405||||||||||||||||||F",
      "OBX|1|NM|HGB^Hemoglobin||13.5|g/dL|12.0-15.0|N||||||20240102030405",
      "OBX|2|NM|WCC^White Cells||9.1|x10^9/L|||||P",
      "OBR|2||ORD2^LAB|UE^Urea and Electrolytes^WinPath|||20240102040000",
      "OBX|1|NM|NA^Sodium||140|mmol/L|135-145|N||||||20240102040000"
    ).mkString("\r")
    // an OBX above the first OBR belongs to no order; an OBR directly
    // followed by the next one owns no result
    val edges = Seq(
      "MSH|^~\\&|WINPATH|UCLH|||20240102030405||ORU^R01|MSG004|P|2.4",
      "OBX|1|NM|STRAY^Stray||1|||||F",
      "OBR|1||ORD3^LAB|MG^Magnesium^WinPath|||20240102030405",
      "OBR|2||ORD4^LAB|K^Potassium^WinPath|||20240102030405",
      "OBX|1|NM|K^Potassium||4.1|mmol/L|||||F"
    ).mkString("\r")

    val rows = Hl7Wire.parseLabOrders(Seq(oruRaw, edges).toDF("raw"), "raw")
      .orderBy("sourceMessageId", "orderIdx").collect()
    assert(rows.length == 4)

    val fbc = rows(0)
    assert(fbc.getAs[String]("sourceMessageId") == "MSG003")
    assert(fbc.getAs[String]("sourceSystem") == "WINPATH")
    assert(fbc.getAs[String]("mrn") == "40800000")
    assert(fbc.getAs[String]("fillerOrderNumber") == "ORD1")
    assert(fbc.getAs[String]("testId") == "FBC")
    assert(fbc.getAs[String]("codingSystem") == "WinPath")
    assert(fbc.getAs[String]("resultStatus") == "F")
    val fbcResults = fbc.getSeq[org.apache.spark.sql.Row](fbc.fieldIndex("results"))
    assert(fbcResults.map(_.getAs[String]("observationId")) ==
      Seq("HGB", "WCC"))
    assert(fbcResults.head.getAs[String]("value") == "13.5")
    assert(fbcResults.head.getAs[String]("refRange") == "12.0-15.0")
    assert(fbcResults.head.getAs[String]("abnormalFlag") == "N")
    assert(fbcResults.head.getAs[Long]("obsTimeUs") == 1704164645000000L)
    assert(fbcResults(1).getAs[String]("status") == "P")

    val ue = rows(1)
    assert(ue.getAs[String]("fillerOrderNumber") == "ORD2")
    assert(ue.getSeq[org.apache.spark.sql.Row](ue.fieldIndex("results"))
      .map(_.getAs[String]("observationId")) == Seq("NA"))
    // trailing-order DTM parsed from its own OBR (OBR-7 observation time)
    assert(ue.getAs[Long]("observationDateTimeUs") == 1704168000000000L)

    def resultIds(r: org.apache.spark.sql.Row) =
      r.getSeq[org.apache.spark.sql.Row](r.fieldIndex("results"))
        .map(_.getAs[String]("observationId"))
    assert(rows.drop(2).map(r =>
      (r.getAs[String]("fillerOrderNumber"), resultIds(r))).toSeq == Seq(
      ("ORD3", Seq()), ("ORD4", Seq("K"))))
  }

  test("golden PPR: problem-list message explodes one row per PRB") {
    val ppr = Seq(
      "MSH|^~\\&|EPIC|Problem List|||20240302210122|OP773|PPR^PC1|PL01|P|2.4",
      "PID|1||40800000^^^MRN^MRN",
      (Seq("PV1", "1", "O", "T42E^BY02^17") ++ Seq.fill(15)("") :+
        "998877").mkString("|"),
      "PRB|AD|20240302210122|K64.9^Haemorrhoids, unspecified^I10UK|1333555|||20230601||||||ACTIVE|||20230531",
      "PRB|UP|20240302210122|E11.9^Type 2 diabetes^I10UK|1444666|||20220115|||||||||20220101"
    ).mkString("\r")

    val rows = Hl7Wire.parseProblems(Seq(ppr).toDF("raw"), "raw")
      .orderBy("epicProblemId").collect()
    assert(rows.length == 2)
    val p = rows.head
    assert(p.getAs[String]("sourceMessageId") == "PL01")
    assert(p.getAs[String]("mrn") == "40800000")
    assert(p.getAs[String]("visitNumber") == "998877")
    assert(p.getAs[String]("action") == "AD")
    assert(p.getAs[String]("conditionCode") == "K64.9")
    assert(p.getAs[String]("conditionName") == "Haemorrhoids, unspecified")
    assert(p.getAs[String]("codingSystem") == "I10UK")
    assert(p.getAs[String]("epicProblemId") == "1333555")
    assert(p.getAs[String]("status") == "ACTIVE")
    // date-only DTMs parse to midnight UTC
    assert(p.getAs[Long]("addedTimeUs") == 1685577600000000L)
    assert(p.getAs[Long]("onsetTimeUs") == 1685491200000000L)
    assert(p.isNullAt(p.fieldIndex("resolvedTimeUs")))
    assert(rows(1).getAs[String]("action") == "UP")
    assert(rows(1).getAs[String]("conditionCode") == "E11.9")
  }

  test("golden ORM consult: request, cancel, and discharge-auto close") {
    def consult(msgId: String, security: String, orc1: String) = Seq(
      s"MSH|^~\\&|EPIC|Consult Orders|||20240212140020|$security|ORM^O01|$msgId|P|2.4",
      "PID|1||40800000^^^MRN^MRN",
      (Seq("PV1", "", "I", "T01^BY06^34R") ++ Seq.fill(15)("") :+
        "555444").mkString("|"),
      s"ORC|$orc1|7654321^EPC|||||^^^20240212115500^^R||20240212140000",
      (Seq("OBR", "1", "7654321^EPC", "", "^^^^IP CON FRAILTY", "",
        "20240212115500") ++ Seq.fill(29)("") ++ Seq("20240212115500") ++
        Seq.fill(7)("") :+ "CON255").mkString("|"),
      "NTE|1||Reason for Consult?->frailty, delirium",
      "NTE|2||Did you contact the team?->No",
      "NTE|3||plain comment without separator"
    ).mkString("\r")

    val rows = Hl7Wire.parseConsults(Seq(
        consult("C1", "OP11", "NW"),
        consult("C2", "OP11", "OC"),
        consult("C3", "DISCHAUTO", "OC")).toDF("raw"), "raw")
      .orderBy("sourceMessageId").collect()

    val nw = rows(0)
    assert(nw.getAs[Long]("epicConsultId") == 7654321L)
    assert(nw.getAs[String]("consultationType") == "CON255")
    assert(nw.getAs[String]("visitNumber") == "555444")
    assert(!nw.getAs[Boolean]("cancelled"))
    assert(!nw.getAs[Boolean]("closedDueToDischarge"))
    // 2024-02-12T14:00:00Z / 11:55:00Z
    assert(nw.getAs[Long]("statusChangeTimeUs") == 1707746400000000L)
    assert(nw.getAs[Long]("scheduledTimeUs") == 1707738900000000L)
    assert(nw.getMap[String, String](nw.fieldIndex("questions")) == Map(
      "Reason for Consult?" -> "frailty, delirium",
      "Did you contact the team?" -> "No"))
    assert(nw.getSeq[String](nw.fieldIndex("comments")) ==
      Seq("plain comment without separator"))
    assert(rows(1).getAs[Boolean]("cancelled"))
    assert(!rows(1).getAs[Boolean]("closedDueToDischarge"))
    assert(!rows(2).getAs[Boolean]("cancelled"))
    assert(rows(2).getAs[Boolean]("closedDueToDischarge"))
  }

  test("golden ORM advance decision: care code, type name, cancel") {
    val raw = Seq(
      "MSH|^~\\&|EPIC|AdvDecisions|||20240212140020|OP9|ORM^O01|AD1|P|2.4",
      "PID|1||40800000^^^MRN^MRN",
      "ORC|NW|555777^EPC|||||||20240212140000",
      (Seq("OBR", "1", "555777^EPC", "",
        "COD4^^^^DNACPR decision") ++ Seq.fill(31)("") ++
        Seq("20240212115500") ++ Seq.fill(7)("") :+ "COD4")
        .mkString("|")).mkString("\r")
    val r = Hl7Wire.parseAdvanceDecisions(Seq(raw).toDF("raw"), "raw")
      .collect().head
    assert(r.getAs[Long]("advanceDecisionNumber") == 555777L)
    assert(r.getAs[String]("careCode") == "COD4")
    assert(r.getAs[String]("typeName") == "DNACPR decision")
    assert(r.getAs[Long]("statusChangeTimeUs") == 1707746400000000L)
    assert(r.getAs[Long]("requestedTimeUs") == 1707738900000000L)
    assert(!r.getAs[Boolean]("cancelled"))
  }

  test("end-to-end: PPR wire messages fold into the condition star") {
    import graft.operators.EntityUpserts
    import graft.kernel.BitemporalKernel
    def ppr(msgId: String, dtm: String, prb: String) = Seq(
      s"MSH|^~\\&|EPIC|Problem List|||$dtm|OP1|PPR^PC1|$msgId|P|2.4",
      "PID|1||40800000^^^MRN^MRN", prb).mkString("\r")
    val raws = Seq(
      ppr("P1", "20240301120000",
        "PRB|AD|20240301120000|K64.9^Haemorrhoids^I10UK|111|||20240115||||||ACTIVE|||20240201"),
      ppr("P2", "20240302120000", // newer status update, same problem
        "PRB|UP|20240302120000|K64.9^Haemorrhoids^I10UK|111|||20240115||||||RESOLVED|||20240201"),
      ppr("P3", "20240301130000",
        "PRB|AD|20240301130000|E11.9^Diabetes^I10UK|222|||20240101||||||ACTIVE"),
      ppr("P4", "20240303120000", // delete the diabetes problem
        "PRB|DE|20240303120000|E11.9^Diabetes^I10UK|222|||20240101||||||ACTIVE"))

    val msgs = graft.sources.Hl7Wire.wireToConditionMessages(
      graft.sources.Hl7Wire.parseProblems(raws.toDF("raw"), "raw"))
    val upserts = msgs.filter(col("action") =!= "DE").drop("action")
    val deletes = msgs.filter(col("action") === "DE").drop("action")

    val folded = EntityUpserts.upsert("patient_condition",
      upserts.limit(0), upserts)
    val live = BitemporalKernel.deleteIfNewer(folded.live, deletes,
      Seq("mrn", "conditionTypeId", "internalId"), "updatedTimeUs").live

    val rows = live.select("conditionTypeId", "status", "onsetDate")
      .as[(String, String, String)].collect().toSeq
    // diabetes deleted; haemorrhoids survives with the newer RESOLVED status
    assert(rows == Seq(("I10UK:K64.9", "RESOLVED", "2024-02-01")))
  }

  test("golden ORU^R01 Vitals flowsheet: typed values, tombstone, NTE comment") {
    val r30 = Seq(
      "MSH|^~\\&|CAREVUE|Vitals|||20240405120000||ORU^R01|FS01|P|2.4",
      "PID|1||40800000^^^MRN^MRN",
      (Seq("PV1", "1", "I", "T03") ++ Seq.fill(15)("") :+ "777333")
        .mkString("|"),
      "OBX|1|NM|5^HEART RATE||92|bpm|||||F|||20240405115500",
      "NTE|1||measured supine",
      "NTE|2||patient resting",
      "OBX|2|ST|28^POSITION||  sitting  ||||||F|||20240405115500",
      "OBX|3|DT|21^LAST MENSTRUAL PERIOD||20240321||||||F|||20240405115500",
      "OBX|4|NM|5^HEART RATE||||||||F|||20240405120000" // tombstone
    ).mkString("\r")
    // an NTE above the first OBX belongs to no observation; the last
    // OBX owns the message tail
    val edges = Seq(
      "MSH|^~\\&|CAREVUE|Vitals|||20240405120000||ORU^R01|FS02|P|2.4",
      "NTE|1||before any observation",
      "OBX|1|NM|5^HEART RATE||88|bpm|||||F|||20240405115500",
      "NTE|1||tail note").mkString("\r")

    val rows = Hl7Wire.parseFlowsheets(Seq(r30, edges).toDF("raw"), "raw")
      .orderBy("sourceMessageId").collect()
    assert(rows.length == 5)
    val hr = rows(0)
    assert(hr.getAs[String]("sourceMessageId") == "FS01$01")
    assert(hr.getAs[String]("mrn") == "40800000")
    assert(hr.getAs[String]("visitNumber") == "777333")
    assert(hr.getAs[String]("interfaceId") == "5")
    assert(hr.getAs[String]("valueType") == "NUMERIC")
    assert(hr.getAs[Double]("numericValue") == 92.0)
    assert(hr.getAs[String]("unit") == "bpm")
    assert(hr.getAs[String]("status") == "SAVE")
    assert(hr.getAs[String]("comment") == "measured supine\npatient resting")
    assert(hr.getAs[Long]("observationTimeUs") == 1712318100000000L)
    assert(hr.getAs[Long]("updatedTimeUs") == 1712318400000000L)

    val pos = rows(1)
    assert(pos.getAs[String]("valueType") == "TEXT")
    assert(pos.getAs[String]("stringValue") == "sitting") // stripped
    assert(pos.isNullAt(pos.fieldIndex("comment")))

    val lmp = rows(2)
    assert(lmp.getAs[String]("valueType") == "DATE")
    assert(lmp.getAs[String]("dateValue") == "2024-03-21")

    val del = rows(3)
    assert(del.getAs[String]("status") == "DELETE")
    assert(del.isNullAt(del.fieldIndex("numericValue")))

    assert(rows(4).getAs[String]("sourceMessageId") == "FS02$01")
    assert(rows(4).getAs[String]("comment") == "tail note")
  }

  test("end-to-end: flowsheet wire messages fold into visit_observation") {
    import graft.operators.EntityUpserts
    def r30(msgId: String, dtm: String, obx: String) = Seq(
      s"MSH|^~\\&|CAREVUE|Vitals|||$dtm||ORU^R01|$msgId|P|2.4",
      "PID|1||40800000^^^MRN^MRN",
      (Seq("PV1", "1", "I", "T03") ++ Seq.fill(15)("") :+ "777333")
        .mkString("|"), obx).mkString("\r")
    val raws = Seq(
      r30("F1", "20240405120000",
        "OBX|1|NM|5^HEART RATE||92|bpm|||||F|||20240405115500"),
      r30("F2", "20240405121000", // newer correction, same observation
        "OBX|1|NM|5^HEART RATE||95|bpm|||||C|||20240405115500"),
      r30("F3", "20240405113000", // stale value must lose
        "OBX|1|NM|5^HEART RATE||88|bpm|||||F|||20240405115500"))

    val msgs = Hl7Wire.wireToFlowsheetMessages(
      Hl7Wire.parseFlowsheets(raws.toDF("raw"), "raw"))
    val live = EntityUpserts.upsert("visit_observation",
      msgs.limit(0), msgs).live
    val rows = live.select("observationTypeId", "numericValue")
      .as[(String, Double)].collect().toSeq
    assert(rows == Seq(("5", 95.0)))
  }

  test("end-to-end: raw ORU wire messages fold into the labs star") {
    import graft.operators.Labs
    // initial result + a newer corrected value for HGB (F7 newer wins),
    // plus an older stale re-send that must NOT overwrite (F7 guard)
    def oru(msgId: String, dtm: String, hgb: String) = Seq(
      s"MSH|^~\\&|WINPATH|UCLH|||$dtm||ORU^R01|$msgId|P|2.4",
      "PID|1||40800000^^^MRN^MRN",
      s"OBR|1||ORD9^LAB|FBC^Full Blood Count^WinPath|||$dtm",
      s"OBX|1|NM|HGB^Hemoglobin||$hgb|g/dL|||||F|||$dtm"
    ).mkString("\r")
    val raws = Seq(
      oru("L1", "20240102030405", "13.5"),
      oru("L2", "20240102050000", "14.1"), // newer correction
      oru("L0", "20240102010000", "12.0")) // stale, must lose

    val nested = Hl7Wire.parseLabOrders(raws.toDF("raw"), "raw")
    val star = Labs.deriveStar(Hl7Wire.wireToLabMessages(nested))
    val res = star.results.collect()
    assert(res.length == 1)
    assert(res.head.getAs[String]("testCode") == "HGB")
    assert(res.head.getAs[String]("mimeType") == "NUMERIC")
    assert(res.head.getAs[Double]("numericValue") == 14.1)
    assert(star.samples.count() == 1 && star.orders.count() == 1)
  }

  test("end-to-end: raw ADT wire messages derive location intervals") {
    import graft.operators.LocationVisits
    def msh(trigger: String, id: Long, dtm: String) =
      s"MSH|^~\\&|EPIC|UCLH|||$dtm||ADT^$trigger|M$id|P|2.4"
    def evn(occurred: String) =
      Seq("EVN", "X", "20240101150000", "", "", "", occurred).mkString("|")
    def pv1(loc: String, visit: String, discharge: String = "") =
      (Seq("PV1", "1", "I", loc) ++ Seq.fill(15)("") ++ Seq(visit) ++
        Seq.fill(25)("") :+ discharge).mkString("|")
    val pid = "PID|1||40800000^^^MRN^MRN"

    val h10 = "20240101100000"; val h11 = "20240101110000"
    val h12 = "20240101120000"; val h13 = "20240101130000"
    val raws = Seq(
      Seq(msh("A01", 1, h10), evn(h10), pid, pv1("W1", "V9")),
      Seq(msh("A02", 2, h11), evn(h11), pid, pv1("W2", "V9")),
      Seq(msh("A02", 3, h12), evn(h12), pid, pv1("W3", "V9")),
      // cancel of the 11:00 transfer: EVN-6 carries the cancelled time
      Seq(msh("A12", 4, "20240101140000"), evn(h11), pid, pv1("W2", "V9")),
      Seq(msh("A03", 5, h13), evn(h13), pid, pv1("W3", "V9", h13))
    ).map(_.mkString("\r"))

    val adt = Hl7Wire.parseAdt(raws.toDF("raw"), "raw")
    val msgs = adt.select(
      col("visitNumber").as("visitId"),
      col("msgType"),
      col("fullLocationString").as("location"),
      col("validFromUs"),
      regexp_extract(col("sourceMessageId"), "^M(\\d+)$", 1).cast("long")
        .as("sourceMessageId"),
      when(col("msgType").startsWith("Cancel"),
        col("eventOccurredDateTimeUs")).as("targetTimeUs"),
      col("dischargeDateTimeUs").as("dischargeTimeUs"))

    val iv = LocationVisits.deriveIntervals(msgs)
      .orderBy("admissionUs")
      .select("location", "admissionUs", "dischargeUs")
      .as[(String, Long, Long)].collect().toSeq
    val t10 = 1704103200000000L; val t12 = t10 + 2 * 3600000000L
    val t13 = t10 + 3 * 3600000000L
    // W2 transfer annihilated by the A12 → W1 runs until the W3 move
    assert(iv == Seq(("W1", t10, t12), ("W3", t12, t13)))
  }

  test("end-to-end: consult questions fold into question/answer stars") {
    import graft.operators.EntityUpserts
    def consult(msgId: String, dtm: String, id: String, ntes: Seq[String]) =
      (Seq(
        s"MSH|^~\\&|EPIC|Consult Orders|||$dtm|OP|ORM^O01|$msgId|P|2.4",
        "PID|1||40800000^^^MRN^MRN",
        s"ORC|NW|$id^EPC|||||||$dtm") ++
        ntes.zipWithIndex.map { case (n, i) => s"NTE|${i + 1}||$n" })
        .mkString("\r")
    val raws = Seq(
      consult("Q1", "20240601100000", "100",
        Seq("Reason?->sepsis", "Contacted team?->No")),
      consult("Q2", "20240601110000", "200",
        Seq("Reason?->falls")), // same question text, different consult
      consult("Q3", "20240601120000", "100",
        Seq("Contacted team?->Yes"))) // newer answer for consult 100

    val qa = EntityUpserts.withQuestionHash(
      Hl7Wire.wireToQuestionMessages(
        Hl7Wire.parseConsults(raws.toDF("raw"), "raw")), "questionText")

    // question dim dedups by text: 2 distinct questions from 4 entries
    val questions = EntityUpserts.upsert("question",
      qa.withColumnRenamed("updatedTimeUs", "validFromUs").limit(0),
      qa.withColumnRenamed("updatedTimeUs", "validFromUs")).live
    assert(questions.select("questionText").as[String].collect().toSet ==
      Set("Reason?", "Contacted team?"))

    // answers keyed (question, parent): newer answer wins per consult
    val answers = EntityUpserts.upsert("request_answer",
      qa.limit(0), qa).live
    val got = answers.join(questions, "questionHash")
      .select("questionText", "parentId", "answer")
      .as[(String, String, String)].collect().toSet
    assert(got == Set(
      ("Reason?", "100", "sepsis"),
      ("Reason?", "200", "falls"),
      ("Contacted team?", "100", "Yes")))
  }

  /** One frame per router outcome: every family the router fans to
    * at least once, plus unhandled, unroutable and unknown-coding-system
    * frames. */
  private val mixedRaws = Seq(
    "MSH|^~\\&|EPIC|UCLH|||20240101000000||ADT^A01|R1|P|2.4\rPID|1||1^^^MRN^MRN",
    "MSH|^~\\&|WP|UCLH|||20240101000000||ORU^R01|R2|P|2.4\rOBR|1||O1^LAB|FBC^F^WinPath|||20240101000000\rOBX|1|NM|HGB||13|g|||||F",
    "MSH|^~\\&|CV|Vitals|||20240101000000||ORU^R01|R3|P|2.4\rOBX|1|NM|5^HR||80|bpm|||||F",
    "MSH|^~\\&|EPIC|PL|||20240101000000|X|PPR^PC1|R4|P|2.4\rPRB|AD|20240101000000|A^B^C|9",
    "MSH|^~\\&|EPIC|Consult Orders|||20240101000000|X|ORM^O01|R5|P|2.4\rORC|NW|7^EPC|||||||20240101000000",
    "MSH|^~\\&|EPIC|XX|||20240101000000||SIU^S12|R6|P|2.4", // unhandled
    "no MSH here at all",
    "MSH|^~\\&|ABL90 FLEX Plus|UCLH|||20240101000000||ORU^R30|R7|P|2.4" +
      "\rOBR|1|1^A|2^B|VBG^Gas|||20240101000000|||||||20240101000000" +
      "\rOBX|1|NM|pH^pH||7.4|||||F",
    "MSH|^~\\&|WP|UCLH|||20240101000000||ORR^O02|R8|P|2.4" +
      "\rORC|NA|94000010|123456789||||||20240101000000" +
      "\rOBR|1|94000010|123456789|FBC^F^WinPath|||20240101000000",
    // order/result with no recognisable coding system
    "MSH|^~\\&|MYSTERY|UCLH|||20240101000000||ORU^R01|R9|P|2.4\rOBR|1||X|Y^Z")

  test("central router fans one mixed stream into family channels") {
    val r = Hl7Wire.route(mixedRaws.toDF("raw"), "raw")
    assert(r.adt.select("sourceMessageId").as[String].collect().toSeq ==
      Seq("R1"))
    assert(r.labOrders.select("sourceMessageId").as[String].collect()
      .toSeq == Seq("R2"))
    assert(r.flowsheets.select("sourceMessageId").as[String].collect()
      .toSeq == Seq("R3$01"))
    assert(r.problems.select("sourceMessageId").as[String].collect()
      .toSeq == Seq("R4"))
    assert(r.consults.select("sourceMessageId").as[String].collect()
      .toSeq == Seq("R5"))
    assert(r.ablLabs.select("sourceMessageId").as[String].collect()
      .toSeq == Seq("R7"))
    assert(r.labOrderAcks.select("sourceMessageId").as[String].collect()
      .toSeq == Seq("R8_01"))
    val dead = r.dead.select("reason").as[String].collect().toSet
    assert(dead == Set("unhandled_type:SIU^S12", "unroutable",
      "unknown_coding_system"))
    // channels + dead partition the input exactly
    assert(r.adt.count() + r.labOrders.count() + r.flowsheets.count() +
      r.problems.count() + r.consults.count() + r.ablLabs.count() +
      r.labOrderAcks.count() + r.dead.count() == 10)
  }

  test("an ADT frame with no trigger dead-letters as unhandled_type:ADT^") {
    val raws = Seq(
      "MSH|^~\\&|EPIC|UCLH|||20240101000000||ADT^A01|OK1|P|2.4\rPID|1||1^^^MRN^MRN",
      "MSH|^~\\&|EPIC|UCLH|||20240101000000||ADT|NT1|P|2.4\rPID|1||2^^^MRN^MRN",
      "MSH|^~\\&|EPIC|UCLH|||20240101000000||ADT^|NT2|P|2.4\rPID|1||3^^^MRN^MRN")
    val r = Hl7Wire.route(raws.toDF("raw"), "raw")
    assert(r.adt.select("sourceMessageId").as[String].collect().toSeq ==
      Seq("OK1"))
    assert(r.allergies.isEmpty && r.infections.isEmpty)
    assert(r.dead.select("reason").as[String].collect().toSeq ==
      Seq("unhandled_type:ADT^", "unhandled_type:ADT^"))
    assert(r.holds("adt") && r.holds("dead") && !r.holds("allergies"))
  }

  test("every frame lands in exactly one primary channel or in dead, " +
      "and holds() answers for every channel") {
    val extra = Seq(
      "MSH|^~\\&|EPIC|UCLH|||20240101000000||ADT|N1|P|2.4\rPID|1||2^^^MRN^MRN",
      "MSH|^~\\&|EPIC|UCLH|||20240101000000||ADT^|N2|P|2.4\rPID|1||3^^^MRN^MRN",
      // gated by the sender allowlist below
      "MSH|^~\\&|ROGUE|UCLH|||20240101000000||ADT^A01|N3|P|2.4\rPID|1||4^^^MRN^MRN",
      // the deliberately ignored blood-products feed
      "MSH|^~\\&|BB|UCLH|||20240101000000||ORU^R01|N4|P|2.4" +
        "\rOBR|1||O4^LAB|BP^Blood^X^Products|||20240101000000" +
        "\rOBX|1|ST|BG||O+||||||F")
    val frames = (mixedRaws ++ extra).zipWithIndex.toDF("raw", "frame")
    val r = Hl7Wire.route(frames, "raw", adtSenderAllowlist = Seq("EPIC"))
    val primary = channels.filterNot { case (name, _) =>
      Set("impliedAdt", "infections").contains(name) }
    val landed = primary.flatMap { case (name, ch) =>
      ch(r).select("frame").distinct().as[Int].collect().map(_ -> name) }
    val byFrame = landed.groupBy(_._1).map { case (f, ls) => f -> ls.map(_._2) }
    assert(byFrame.keySet == (mixedRaws ++ extra).indices.toSet,
      (mixedRaws ++ extra).indices.filterNot(byFrame.contains))
    assert(byFrame.forall(_._2.size == 1), byFrame.filter(_._2.size > 1))
    assert(r.dead.select("reason").as[String].collect().toSet ==
      Set("unhandled_type:SIU^S12", "unroutable", "unknown_coding_system",
        "unhandled_type:ADT^", "skipped_sender:ROGUE",
        "ignored_coding_system:BLOOD_PRODUCTS"))
    // the presence probe agrees with every channel it names
    for ((name, ch) <- channels)
      assert(r.holds(name) == !ch(r).isEmpty, name)
    intercept[IllegalArgumentException](r.holds("labs"))
  }

  /** Every channel of [[Hl7Wire.RoutedWire]], in declaration order. */
  private val channels: Seq[(String, Hl7Wire.RoutedWire => DataFrame)] = Seq(
    "adt" -> (_.adt), "labOrders" -> (_.labOrders),
    "coPathLabs" -> (_.coPathLabs),
    "ablLabs" -> (_.ablLabs), "bioConnectLabs" -> (_.bioConnectLabs),
    "bankManagerLabs" -> (_.bankManagerLabs),
    "imagingLabs" -> (_.imagingLabs), "labOrderAcks" -> (_.labOrderAcks),
    "flowsheets" -> (_.flowsheets), "problems" -> (_.problems),
    "consults" -> (_.consults), "advanceDecisions" -> (_.advanceDecisions),
    "impliedAdt" -> (_.impliedAdt), "infections" -> (_.infections),
    "allergies" -> (_.allergies), "dead" -> (_.dead))

  /** Row count + a digest of the schema and the sorted JSON rows. */
  private def digest(df: DataFrame): (Long, String) = {
    val rows = df.select(to_json(struct(df.columns.map(col): _*)))
      .as[String].collect().sorted
    val sha = java.security.MessageDigest.getInstance("SHA-256")
      .digest((df.schema.json +: rows).mkString("\n").getBytes("UTF-8"))
    (rows.length.toLong, sha.take(8).map("%02x".format(_)).mkString)
  }

  test("each router filter runs the coding-system classifier at most " +
      "once per frame") {
    // an RDD source keeps the optimizer from folding the filters into a
    // local relation
    val frames = spark.sparkContext.parallelize(mixedRaws).toDF("raw")
    val r = Hl7Wire.route(frames, "raw")
    for ((name, ch) <- channels) {
      // the classifier's last rule tests OBR-4.4 against 'Products': each
      // copy in a filter condition is one more run per frame
      val copies = ch(r).queryExecution.optimizedPlan.collect {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
          "'Products'".r.findAllIn(f.condition.sql).size }
      // labOrderAcks splits its own frames by coding system once more
      val bound = if (name == "labOrderAcks") 2 else 1
      assert(copies.nonEmpty && copies.forall(_ <= bound), s"$name: $copies")
    }
  }

  test("router channels are built on first read: reading adt alone " +
      "analyses no other channel, and every channel keeps its rows") {
    import org.apache.spark.sql.catalyst.rules.RuleExecutor
    // analyzer + optimizer rule runs, JVM-wide (suites run one at a time
    // in the forked test JVM, so nothing else moves this counter)
    def cost(read: => Any): Long = {
      val before = RuleExecutor.getCurrentMetrics().numRuns
      read
      RuleExecutor.getCurrentMetrics().numRuns - before
    }
    val adtOnly = Seq(adtRaw, adtRaw.replace("MSG001", "MSG002")).toDF("raw")

    assert(cost(Hl7Wire.route(adtOnly, "raw")) == 0)
    val r = Hl7Wire.route(adtOnly, "raw")
    val adtRuns = cost(r.adt)
    assert(adtRuns > 0)
    assert(cost(r.adt) == 0) // built once, then kept
    // a channel that had been built alongside adt would cost nothing now
    for ((name, ch) <- channels.tail)
      assert(cost(ch(r)) > 0, s"$name was built before its first read")
    val fresh = Hl7Wire.route(adtOnly, "raw")
    assert(cost(channels.foreach(_._2(fresh))) > adtRuns)
    assert(r.adt.select("sourceMessageId").as[String].collect().toSeq ==
      Seq("MSG001", "MSG002"))

    // per-channel (rows, digest) of the mixed stream: building channels
    // on demand must not change what any of them holds
    val expected = Map[String, (Long, String)](
      "adt" -> (1L, "cd106f41571fe518"),
      "labOrders" -> (1L, "a438642f61ce2f8e"),
      "coPathLabs" -> (0L, "599fbc9239487fc0"),
      "ablLabs" -> (1L, "5c38196949fc54ce"),
      "bioConnectLabs" -> (0L, "71c40fd938c9a180"),
      "bankManagerLabs" -> (0L, "71c40fd938c9a180"),
      "imagingLabs" -> (0L, "2642b90018034631"),
      "labOrderAcks" -> (1L, "36400c92e0cd3859"),
      "flowsheets" -> (1L, "5fbc839cf00bbc89"),
      "problems" -> (1L, "d1f90cd77e5cedd1"),
      "consults" -> (1L, "7ed56f672227fad8"),
      "advanceDecisions" -> (0L, "cd23f9fa607e69c7"),
      "impliedAdt" -> (3L, "e1c0b5875f751aea"),
      "infections" -> (0L, "5b9a6c727ae4484b"),
      "allergies" -> (0L, "e502f11c4c44683d"),
      "dead" -> (3L, "089056aab9020eb9"))
    val mixed = Hl7Wire.route(mixedRaws.toDF("raw"), "raw")
    // read in reverse: no channel may depend on another having been read
    for ((name, ch) <- channels.reverse)
      assert(digest(ch(mixed)) == expected(name), name)
  }

  test("the adt channel reads frames with native accessors: no regex " +
      "split, no array filter, few interpreted expressions") {
    import org.apache.spark.sql.catalyst.expressions.{ArrayFilter, Expression, StringSplit}
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
    // an RDD source keeps the optimizer from folding the plan into a
    // local relation
    val frames = spark.sparkContext.parallelize(Seq(adtRaw)).toDF("raw")
    val plan = Hl7Wire.route(frames, "raw").adt.queryExecution.sparkPlan
    val exprs: Seq[Expression] =
      plan.collect { case p => p.expressions }.flatten.flatMap(_.collect { case e => e })
    assert(!exprs.exists(e => e.isInstanceOf[ArrayFilter] ||
      e.isInstanceOf[StringSplit]), plan)
    // what is left interpreted is the order/result classifier's binding
    // in the routing CASE, which ADT frames never reach (the regex-split
    // accessors left 3,060 interpreted nodes in this plan)
    val interpreted = exprs.count(_.isInstanceOf[CodegenFallback])
    assert(interpreted <= 13, interpreted)
  }

  test("missing segments and empty fields degrade to nulls, not errors") {
    val bare = "MSH|^~\\&|S|F|||20240101000000||ADT^A03|M1|P|2.4"
    val r = Hl7Wire.parseAdt(Seq(bare).toDF("raw"), "raw").collect().head
    assert(r.getAs[String]("msgType") == "Discharge")
    assert(r.isNullAt(r.fieldIndex("mrn")))
    assert(r.isNullAt(r.fieldIndex("visitNumber")))
    assert(r.isNullAt(r.fieldIndex("eventOccurredDateTimeUs")))
    assert(r.getAs[Long]("validFromUs") == 1704067200000000L)
    // no OBX → zero exploded rows
    assert(Hl7Wire.parseObx(Seq(bare).toDF("raw"), "raw").count() == 0)
  }
}
