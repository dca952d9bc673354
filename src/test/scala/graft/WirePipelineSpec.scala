package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.streaming.{StarPipeline, WirePipeline}

/** End-to-end front door: one mixed raw HL7 batch → router → family
  * funnels → per-family bucketed star folds, including the three-way
  * conditions union (problems + allergies + gated infections) and the
  * implied-ADT side channel from order/result messages.
  */
class WirePipelineSpec extends SparkSpecBase {
  import spark.implicits._

  private def pv1(visit: String) =
    (Seq("PV1", "1", "I", "W^R^B") ++ Seq.fill(15)("") :+ visit).mkString("|")

  private val WirePayload = Seq("msgType", "patientClass",
    "fullLocationString", "visitNumber", "previousMrn",
    "previousVisitNumber", "otherVisitNumber", "pendingDestination",
    "targetTimeUs", "dischargeTimeUs")

  test("one mixed batch fans into adt/labs/conditions folds; progress persists") {
    val root = Files.createTempDirectory("wire_pipe").toString

    val batch1 = Seq(
      // plain ADT admit
      "MSH|^~\\&|EPIC|UCLH|||20240101080000||ADT^A01|W1|P|2.4\r" +
        "PID|1||M1^^^MRN^MRN\r" + pv1("V1"),
      // WinPath lab result → labs fold + implied ADT for M2
      "MSH|^~\\&|WP|UCLH|||20240101090000||ORU^R01|W2|P|2.4\r" +
        "PID|1||M2^^^MRN^MRN\r" + pv1("V2") + "\r" +
        "OBR|1||ORD1^LAB|FBC^FBC^WinPath|||20240101090000\r" +
        "OBX|1|NM|HGB||13.5|g/dL|||||F",
      // problem list for M3
      "MSH|^~\\&|EPIC|Problem List|||20240101100000|X|PPR^PC1|W3|P|2.4\r" +
        "PID|1||M3^^^MRN^MRN\r" +
        "PRB|AD|20240101100000|C1^Asthma^I10UK|700|||20240101100000",
      // allergies for M4: one good, one invalid action
      "MSH|^~\\&|EPIC|UCLH|||20240101110000||ADT^A60|W4|P|2.4\r" +
        "EVN|A60|20240101110000\r" +
        "PID|1||M4^^^MRN^MRN\r" +
        "IAM|1|DA^Drug|1^PENICILLIN^ALG|SV^Severe|RASH|A|771^EPIC" +
        "||||20230115||20240101110000||||Active\r" +
        "IAM|2|DA^Drug|2^ASPIRIN^ALG||R|Q|772^EPIC",
      // infections for M5: Jan 2 advances progress, Jan 1 rejected
      "MSH|^~\\&|EPIC|UCLH|||20240103120000||ADT^A05|W5|P|2.4\r" +
        "EVN|A05|20240103120000\r" +
        "PID|1||M5^^^MRN^MRN\r" +
        "ZIF|Covid^20240102000000~Flu^20240101000000",
      // WinPath ORR ack: status update, no results → lab_status fold
      "MSH|^~\\&|WP|UCLH|||20240101120000||ORR^O02|W6A|P|2.4\r" +
        "PID|1||M2^^^MRN^MRN\r" +
        "ORC|NA|94000010|123456789||||||20240101113000\r" +
        "OBR|1|94000010|123456789|FBC^F^WinPath|||20240101090000")
      .toDF("raw")

    WirePipeline.foldBatch(batch1, 1L, "raw", root)

    def live(family: String, key: Seq[String], vf: String,
             payload: Seq[String]) =
      StarPipeline.readState(spark,
        StarPipeline.Config(s"$root/$family", key, vf, "sourceMessageId",
          payload, nBuckets = 8), "live").get

    // adt fold: the admit AND the implied-ADT person context from the lab
    val adt = live("adt", Seq("mrn"), "validFromUs", WirePayload)
    // M2 implied from the lab message; M5 implied from its A05 (the
    // reference builds an ADT message for A05 alongside the infections)
    assert(adt.select("mrn", "msgType").as[(String, String)].collect()
      .toSet == Set(("M1", "Admit"), ("M2", "ImpliedAdt"),
        ("M5", "ImpliedAdt")))

    // labs fold: one order
    val labs = live("labs", Seq("battery", "labSpecimenNumber"),
      "statusChangeTimeUs", Seq("epicOrderNumber", "mrn", "results"))
    assert(labs.select("mrn").as[String].collect().toSeq == Seq("M2"))

    // lab-status fold: the ack binds numbers + status time, no results
    val labStatus = live("lab_status", Seq("battery", "labSpecimenNumber"),
      "statusChangeTimeUs",
      Seq("orderControlId", "orderStatus", "epicOrderNumber",
        "orderTimeUs", "sampleReceivedTimeUs", "resultStatus"))
    assert(labStatus
      .select("labSpecimenNumber", "orderControlId")
      .as[(String, String)].collect().toSeq == Seq(("123456789", "NA")))

    // conditions fold: problem + allergy + ONE gated infection
    val condKey = Seq("mrn", "conditionTypeId", "internalId")
    val condPay = Seq("status", "severity", "onsetDate", "comment", "action")
    val cond1 = live("conditions", condKey, "updatedTimeUs", condPay)
    assert(cond1.select("conditionTypeId").as[String].collect().toSet ==
      Set("I10UK:C1", "ALLERGY:PENICILLIN", "INFECTION:Covid"))

    // the invalid allergy action is a nack row, not a dropped message
    val dead = spark.read.parquet(s"$root/dead/allergies/batch=1")
    assert(dead.select("reason").as[String].collect().toSeq ==
      Seq("invalid_action"))

    // progress advanced to the accepted infection's added time (Jan 2)
    val prog = new String(Files.readAllBytes(
      java.nio.file.Paths.get(s"$root/conditions/_INF_PROGRESS"))).toLong
    assert(prog == 1704153600000000L)

    // batch 2: a pre-progress infection is rejected ACROSS batches; a
    // newer one lands
    val batch2 = Seq(
      "MSH|^~\\&|EPIC|UCLH|||20240104120000||ADT^A05|W6|P|2.4\r" +
        "EVN|A05|20240104120000\r" +
        "PID|1||M6^^^MRN^MRN\r" +
        "ZIF|RSV^20240101060000~Strep^20240103000000",
      // DE action for M3's problem → tombstone version, not a lost row
      "MSH|^~\\&|EPIC|Problem List|||20240102100000|X|PPR^PC1|W7|P|2.4\r" +
        "PID|1||M3^^^MRN^MRN\r" +
        "PRB|DE|20240102100000|C1^Asthma^I10UK|700|||20240101100000")
      .toDF("raw")
    WirePipeline.foldBatch(batch2, 2L, "raw", root)

    val cond2 = live("conditions", condKey, "updatedTimeUs", condPay)
    val types = cond2.select("conditionTypeId").as[String].collect().toSet
    assert(types.contains("INFECTION:Strep") && !types.contains("INFECTION:RSV"))
    assert(new String(Files.readAllBytes(
      java.nio.file.Paths.get(s"$root/conditions/_INF_PROGRESS"))).toLong ==
      1704240000000000L)

    // the tombstone wins in raw live state but is filtered from the
    // current-conditions view
    assert(cond2.filter(col("conditionTypeId") === "I10UK:C1")
      .select("action").as[String].collect().toSeq == Seq("DE"))
    val current = WirePipeline.liveConditions(spark, root).get
    assert(!current.select("conditionTypeId").as[String].collect()
      .toSet.contains("I10UK:C1"))
  }

  test("a conditions fold that fails leaves the infection watermark " +
      "where it was; the replay lands every infection") {
    val root = Files.createTempDirectory("wire_inf_crash").toString
    val batch = Seq(
      "MSH|^~\\&|EPIC|UCLH|||20240103120000||ADT^A05|X1|P|2.4\r" +
        "EVN|A05|20240103120000\r" +
        "PID|1||M5^^^MRN^MRN\r" +
        "ZIF|Flu^20240101000000~Covid^20240102000000").toDF("raw")
    val progress = java.nio.file.Paths.get(s"$root/conditions/_INF_PROGRESS")
    // the conditions star cannot be written: its data dir is a plain file
    val blocker = java.nio.file.Paths.get(s"$root/conditions/data")
    Files.createDirectories(blocker.getParent)
    Files.createFile(blocker)
    intercept[Exception](WirePipeline.foldBatch(batch, 1L, "raw", root))
    assert(!Files.exists(progress))

    Files.delete(blocker)
    WirePipeline.foldBatch(batch, 1L, "raw", root)
    val conditions = WirePipeline.liveConditions(spark, root).get
    assert(conditions.select("conditionTypeId").as[String].collect().toSet ==
      Set("INFECTION:Flu", "INFECTION:Covid"))
    assert(new String(Files.readAllBytes(progress)).toLong ==
      1704153600000000L)
  }

  test("condition-visit links: insert-once distinct set, arrival-order " +
    "invariant, survives the condition tombstone; infections never link") {
    def msg(id: String, mrn: String, act: String, dtm: String,
            visit: Option[String]) = {
      val segs = Seq(
        s"MSH|^~\\&|EPIC|Problem List|||$dtm|X|PPR^PC1|$id|P|2.4",
        s"PID|1||$mrn^^^MRN^MRN") ++
        visit.map(pv1) :+
        s"PRB|$act|$dtm|C9^Asthma^I10UK|900"
      segs.mkString("\r")
    }
    val frames = Seq(
      msg("P1", "M1", "AD", "20240101100000", Some("V1")),
      msg("P2", "M1", "UP", "20240102100000", Some("V2")),
      // re-sighting of V1 → no second link row
      msg("P3", "M1", "UP", "20240103100000", Some("V1")),
      // no PV1 → no link (the reference's visit-null guard)
      msg("P4", "M1", "UP", "20240104100000", None),
      // the DE message still links its visit, then tombstones
      msg("P5", "M1", "DE", "20240105100000", Some("V3")),
      // infection for the same patient: folds, but never links
      "MSH|^~\\&|EPIC|UCLH|||20240103120000||ADT^A05|P6|P|2.4\r" +
        "EVN|A05|20240103120000\r" + "PID|1||M1^^^MRN^MRN\r" +
        pv1("V9") + "\r" + "ZIF|Covid^20240102000000")

    def foldInto(order: Seq[Seq[String]]): String = {
      val root = Files.createTempDirectory("cond_visits").toString
      order.zipWithIndex.foreach { case (b, i) =>
        WirePipeline.foldBatch(b.toDF("raw"), i + 1L, "raw", root)
      }
      root
    }
    val rootA = foldInto(Seq(frames.take(3), frames.drop(3)))
    val rootB = foldInto(Seq(frames.reverse.take(2), frames.reverse.drop(2)))

    def linkSet(root: String) = WirePipeline.conditionVisits(spark, root)
      .get.select("mrn", "conditionTypeId", "internalId", "visitNumber")
      .as[(String, String, String, String)].collect().toSet

    val expected = Set(
      ("M1", "I10UK:C9", "900", "V1"),
      ("M1", "I10UK:C9", "900", "V2"),
      ("M1", "I10UK:C9", "900", "V3"))
    assert(linkSet(rootA) == expected)
    // permutation convergence: reversed arrival, different batch split
    assert(linkSet(rootB) == expected)

    // exactly ONE live version per link (re-sighting coalesced, F6)
    assert(WirePipeline.conditionVisits(spark, rootA).get.count() == 3)
    // the condition itself is tombstoned, links remain queryable
    assert(WirePipeline.liveConditions(spark, rootA).get.count() == 1)
  }

  test("adt ops route into derived state: chained A40 + A17 in ONE batch, " +
      "A15 pending, A29 cascade, CoPath/imaging/questions folds") {
    val root = Files.createTempDirectory("wire_derived").toString
    def msh(trig: String, id: String, dtm: String) =
      s"MSH|^~\\&|EPIC|UCLH|||$dtm||ADT^$trig|$id|P|2.4"
    def evn(trig: String, dtm: String, occurred: String = "") =
      Seq("EVN", trig, dtm, "", "", "", occurred).mkString("|")
    def pv1At(loc: String, visit: String) =
      (Seq("PV1", "1", "I", loc) ++ Seq.fill(15)("") :+ visit).mkString("|")

    val batch1 = Seq(
      // two admits → open intervals in W1 / W2
      Seq(msh("A01", "D1", "20240201080000"), evn("A01", "20240201080000"),
        "PID|1||P1^^^MRN^MRN", pv1At("W1", "V1")).mkString("\r"),
      Seq(msh("A01", "D2", "20240201080500"), evn("A01", "20240201080500"),
        "PID|1||P2^^^MRN^MRN", pv1At("W2", "V2")).mkString("\r"),
      // third patient, to be deleted by A29 later in the SAME batch
      Seq(msh("A01", "D3", "20240201081000"), evn("A01", "20240201081000"),
        "PID|1||P3^^^MRN^MRN", pv1At("W3", "V3")).mkString("\r"),
      // A17: swap V1 and V2's open locations (second PID/PV1 group)
      Seq(msh("A17", "D4", "20240201090000"), evn("A17", "20240201090000"),
        "PID|1||P1^^^MRN^MRN", pv1At("W1", "V1"),
        "PID|2||P2^^^MRN^MRN", pv1At("W2", "V2")).mkString("\r"),
      // chained A40s in one batch: P4→P5 and P5→P6 must close to P6
      Seq(msh("A40", "D5", "20240201100000"), evn("A40", "20240201100000"),
        "PID|1||P5^^^MRN^MRN", "MRG|P4^^^MRN^MRN").mkString("\r"),
      Seq(msh("A40", "D6", "20240201100500"), evn("A40", "20240201100500"),
        "PID|1||P6^^^MRN^MRN", "MRG|P5^^^MRN^MRN").mkString("\r"),
      // A15 pending transfer for V1, destination in PV1-42
      Seq(msh("A15", "D7", "20240201110000"), evn("A15", "20240201110000"),
        "PID|1||P1^^^MRN^MRN",
        (Seq("PV1", "1", "I", "W2") ++ Seq.fill(15)("") ++ Seq("V1") ++
          Seq.fill(22)("") :+ "DEST1").mkString("|")).mkString("\r"),
      // A29 delete person P3 (after their admit)
      Seq(msh("A29", "D8", "20240201120000"), evn("A29", "20240201120000"),
        "PID|1||P3^^^MRN^MRN", pv1At("W3", "V3")).mkString("\r"),
      // CoPath report with a TEXT section → labs star
      ("MSH|^~\\&|Co-Path|UCLH|||20240201130000||ORU^R01|D9|P|2.4\r" +
        "PID|1||P1^^^MRN^MRN\r" +
        "ORC|RE|CP100|SPEC100^CoPathPlus||CM\r" +
        "OBR|1|CP100|SPEC100^CoPathPlus|UH^Histology^CPEAP|||20240201120000\r" +
        "OBX|1|TX|TX^Report^CoPath||Malignant cells seen||||||F"),
      // PACS imaging report → labs star (GDT narrative)
      ("MSH|^~\\&|IMG_RESULT|UCLH|||20240201140000||ORU^R01|D10|P|2.4\r" +
        "PID|1||P2^^^MRN^MRN\r" +
        "ORC|RE|IMG200|ACC200||CM\r" +
        "OBR|1|IMG200|ACC200|XR^Chest XRay^PACS|||20240201130000\r" +
        "OBX|1|TX|GDT^^PACS||No acute findings||||||F"),
      // consult with a question → questions star
      ("MSH|^~\\&|EPIC|Consult Orders|||20240201150000|OP|ORM^O01|D11|P|2.4\r" +
        "PID|1||P1^^^MRN^MRN\r" +
        "ORC|NW|9001^EPC|||||||20240201150000\r" +
        "NTE|1||Reason?->sepsis")).toDF("raw")

    WirePipeline.foldBatch(batch1, 1L, "raw", root)
    val d = WirePipeline.derived(spark, root).get

    // A17 applied: V1's open interval sits in W2, V2's in W1
    val open = d.intervals.filter(col("dischargeUs").isNull)
      .select("visitId", "location").as[(String, String)].collect().toMap
    assert(open("V1") == "W2" && open("V2") == "W1")
    // A29 cascade: V3's intervals are gone, P3 not in demographics
    assert(!open.contains("V3"))
    assert(!d.demographics.select("mrn").as[String].collect().toSet
      .contains("P3"))

    // chained A40 transitively closed INSIDE one batch
    val m = d.mrnToLive.select("mrn", "live_mrn").as[(String, String)]
      .collect().toMap
    assert(m("P4") == "P6" && m("P5") == "P6" && m("P1") == "P1")

    // A15 pending open for V1 → DEST1
    val p = d.pendings.select("visitId", "location", "cancelledTsUs")
      .as[(String, String, Option[Long])].collect()
    assert(p.toSeq == Seq(("V1", "DEST1", None)))

    // CoPath + imaging landed in the SAME labs star
    val labs = StarPipeline.readState(spark,
      StarPipeline.Config(s"$root/labs",
        Seq("battery", "labSpecimenNumber"), "statusChangeTimeUs",
        "sourceMessageId", Seq("epicOrderNumber", "mrn", "results"),
        nBuckets = 8), "live").get
    val labRows = labs.select(col("battery"),
        explode(col("results")).as("r"))
      .select(col("battery"), col("r.mimeType"), col("r.stringValue"))
      .as[(String, String, String)].collect().toSet
    assert(labRows.contains(("UH", "TEXT", "Malignant cells seen")))
    assert(labRows.contains(("XR", "TEXT", "No acute findings")))

    // the consult question landed in the questions star
    val q = StarPipeline.readState(spark,
      StarPipeline.Config(s"$root/questions",
        Seq("parentTable", "parentId", "questionText"), "updatedTimeUs",
        "sourceMessageId", Seq("answer"), nBuckets = 8), "live").get
    assert(q.select("parentTable", "parentId", "questionText", "answer")
      .as[(String, String, String, String)].collect().toSeq ==
      Seq(("CONSULT_REQUEST", "9001", "Reason?", "sepsis")))
  }

  test("dead-letter replay: repaired frames fold to the same state as an " +
      "originally-correct stream; unrepaired frames return to the dead letter") {
    val root = Files.createTempDirectory("wire_replay").toString
    val good =
      "MSH|^~\\&|EPIC|UCLH|||20240301080000||ADT^A01|R1|P|2.4\r" +
        "PID|1||M1^^^MRN^MRN\r" + pv1("V1")
    val broken = // missing MRN → family nack
      "MSH|^~\\&|EPIC|UCLH|||20240301090000||ADT^A01|R2|P|2.4\r" +
        "PID|1||^^^MRN^MRN\r" + pv1("V2")
    val fixed = broken.replace("PID|1||^^^", "PID|1||M9^^^")
    WirePipeline.foldBatch(Seq(good, broken).toDF("raw"), 1L, "raw", root)

    def liveMrns = StarPipeline.readState(spark,
      StarPipeline.Config(s"$root/adt", Seq("mrn"), "validFromUs",
        "sourceMessageId", WirePayload, nBuckets = 8), "live").get
      .select("mrn").as[String].collect().toSet
    assert(liveMrns == Set("M1"))
    assert(spark.read.parquet(s"$root/dead/adt/batch=1")
      .select("reason").as[String].collect().toSeq == Seq("missing_mrn"))

    // replay as-is (no repair): the frame routes straight back to the
    // dead letter under the new batch id, state untouched
    WirePipeline.replayDeadLetters(spark, root, "raw", "adt", Seq(1L), 50L)
    assert(liveMrns == Set("M1"))
    assert(spark.read.parquet(s"$root/dead/adt/batch=50")
      .select("reason").as[String].collect().toSeq == Seq("missing_mrn"))

    // replay with a repair: converges to the originally-correct stream
    WirePipeline.replayDeadLetters(spark, root, "raw", "adt", Seq(1L), 51L,
      df => df.withColumn("raw",
        regexp_replace(col("raw"), "PID\\|1\\|\\|\\^\\^\\^",
          "PID|1||M9^^^")))
    assert(liveMrns == Set("M1", "M9"))

    val oracle = Files.createTempDirectory("wire_replay_oracle").toString
    WirePipeline.foldBatch(Seq(good, fixed).toDF("raw"), 1L, "raw", oracle)
    val expect = StarPipeline.readState(spark,
      StarPipeline.Config(s"$oracle/adt", Seq("mrn"), "validFromUs",
        "sourceMessageId", WirePayload, nBuckets = 8), "live").get
      .select("mrn", "msgType", "visitNumber", "validFromUs")
      .as[(String, String, String, Long)].collect().toSet
    def replayed = StarPipeline.readState(spark,
      StarPipeline.Config(s"$root/adt", Seq("mrn"), "validFromUs",
        "sourceMessageId", WirePayload, nBuckets = 8), "live").get
      .select("mrn", "msgType", "visitNumber", "validFromUs")
      .as[(String, String, String, Long)].collect().toSet
    assert(replayed == expect)

    // replaying the same repair again is a no-op (kernel message dedup)
    WirePipeline.replayDeadLetters(spark, root, "raw", "adt", Seq(1L), 52L,
      df => df.withColumn("raw",
        regexp_replace(col("raw"), "PID\\|1\\|\\|\\^\\^\\^",
          "PID|1||M9^^^")))
    assert(replayed == expect)
  }

  test("replaying dead letters from an unknown source fails, naming the " +
      "known sources") {
    val root = Files.createTempDirectory("wire_replay_source").toString
    val e = intercept[IllegalArgumentException](WirePipeline
      .replayDeadLetters(spark, root, "raw", "adts", Seq(1L), 2L))
    assert(Seq("adts", "router", "adt", "labs_bioconnect",
      "advance_decisions").forall(e.getMessage.contains), e.getMessage)
  }

  test("bitemporal mode: wire folds stamp the stored axis; current views " +
      "match the valid-time pipeline; old beliefs remain answerable") {
    val adt = (n: Int, mrn: String, loc: String, dtm: String) =>
      s"MSH|^~\\&|EPIC|UCLH|||$dtm||ADT^A02|T$n|P|2.4\r" +
        s"PID|1||$mrn^^^MRN^MRN\r" +
        (Seq("PV1", "1", "I", loc) ++ Seq.fill(15)("") :+ s"V$mrn")
          .mkString("|")
    val prb = (n: Int, mrn: String, code: String, dtm: String) =>
      s"MSH|^~\\&|EPIC|Problem List|||$dtm|X|PPR^PC1|P$n|P|2.4\r" +
        s"PID|1||$mrn^^^MRN^MRN\r" +
        s"PRB|AD|$dtm|$code^X^I10UK|9|||$dtm"
    val b1 = Seq(adt(1, "M1", "W1", "20240401080000"),
      prb(2, "M1", "C1", "20240401080000")).toDF("raw")
    val b2 = Seq(adt(3, "M1", "W2", "20240401090000"),
      prb(4, "M1", "C2", "20240401090000")).toDF("raw")

    val bt = Files.createTempDirectory("wire_bt").toString
    val vt = Files.createTempDirectory("wire_vt").toString
    for ((root, flag) <- Seq((bt, true), (vt, false))) {
      WirePipeline.foldBatch(b1, 1L, "raw", root, bitemporal = flag)
      WirePipeline.foldBatch(b2, 2L, "raw", root, bitemporal = flag)
    }

    // current state agrees across modes
    def conds(root: String, flag: Boolean) =
      WirePipeline.liveConditions(spark, root, bitemporal = flag).get
        .select("conditionTypeId").as[String].collect().toSet
    assert(conds(bt, flag = true) == conds(vt, flag = false))
    def locs(root: String, flag: Boolean) =
      WirePipeline.derived(spark, root, bitemporal = flag).get
        .demographics.select("mrn", "fullLocationString")
        .as[(String, String)].collect().toSet
    assert(locs(bt, flag = true) == locs(vt, flag = false))
    assert(locs(bt, flag = true) == Set(("M1", "W2")))

    // the stored axis answers "what did the pipeline believe after
    // batch 1": W1 open, W2 unknown
    import graft.functions.GraftFunctions.storedAsOf
    val belief1 = WirePipeline.readBelief(spark, bt, "adt").get
      .filter(storedAsOf(lit(1L), col("stored_from_us"),
        col("stored_until_us")))
    assert(belief1.select("fullLocationString").as[String]
      .collect().toSeq == Seq("W1"))
    assert(belief1.filter(col("valid_until_us").isNull).count() == 1)
  }

  test("conditions vertical through the JDBC StarSink: fold + link table + " +
    "gate watermark match the manifest sink; replay is a no-op") {
    import graft.streaming.{JdbcStarSink, ManifestStarSink, StarSink}
    System.setProperty("derby.system.home",
      Files.createTempDirectory("derby_home_wire").toString)
    // ONE sink instance hosts every family (prefix derived per config)
    val jdbc: StarSink = new JdbcStarSink(
      "jdbc:derby:memory:wiresink;create=true")
    val manifest: StarSink = ManifestStarSink
    val roots: Map[String, (StarSink, String)] = Map(
      "jdbc" -> (jdbc, Files.createTempDirectory("wire_jdbc").toString),
      "manifest" ->
        (manifest, Files.createTempDirectory("wire_mani").toString))

    val batch1 = Seq(
      // problem with a visit → conditions fold + condition_visits link
      "MSH|^~\\&|EPIC|Problem List|||20240101100000|X|PPR^PC1|W1|P|2.4\r" +
        "PID|1||M3^^^MRN^MRN\r" + pv1("V1") + "\r" +
        "PRB|AD|20240101100000|C1^Asthma^I10UK|700|||20240101100000",
      // allergy with a visit (one valid IAM, one invalid-action nack)
      "MSH|^~\\&|EPIC|UCLH|||20240101110000||ADT^A60|W2|P|2.4\r" +
        "EVN|A60|20240101110000\r" + "PID|1||M4^^^MRN^MRN\r" + pv1("V2") +
        "\r" + "IAM|1|DA^Drug|1^PENICILLIN^ALG|SV^Severe|RASH|A|771^EPIC" +
        "||||20230115||20240101110000||||Active\r" +
        "IAM|2|DA^Drug|2^ASPIRIN^ALG||R|Q|772^EPIC",
      // infections: Jan 2 advances the gate watermark, Jan 1 rejected
      "MSH|^~\\&|EPIC|UCLH|||20240103120000||ADT^A05|W3|P|2.4\r" +
        "EVN|A05|20240103120000\r" + "PID|1||M5^^^MRN^MRN\r" +
        "ZIF|Covid^20240102000000~Flu^20240101000000").toDF("raw")
    val batch2 = Seq(
      // pre-watermark infection rejected ACROSS batches; newer lands
      "MSH|^~\\&|EPIC|UCLH|||20240104120000||ADT^A05|W4|P|2.4\r" +
        "EVN|A05|20240104120000\r" + "PID|1||M6^^^MRN^MRN\r" +
        "ZIF|RSV^20240101060000~Strep^20240103000000",
      // DE tombstone for M3's problem, new visit V3 still links
      "MSH|^~\\&|EPIC|Problem List|||20240102100000|X|PPR^PC1|W5|P|2.4\r" +
        "PID|1||M3^^^MRN^MRN\r" + pv1("V3") + "\r" +
        "PRB|DE|20240102100000|C1^Asthma^I10UK|700|||20240101100000")
      .toDF("raw")

    roots.values.foreach { case (s, root) =>
      WirePipeline.foldBatch(batch1, 1L, "raw", root, sink = s)
      WirePipeline.foldBatch(batch2, 2L, "raw", root, sink = s)
    }

    def condCfg(root: String) = StarPipeline.Config(s"$root/conditions",
      Seq("mrn", "conditionTypeId", "internalId"), "updatedTimeUs",
      "sourceMessageId",
      Seq("status", "severity", "onsetDate", "comment", "action"),
      nBuckets = 8)
    def rawLive(name: String) = { val (s, root) = roots(name)
      s.read(spark, condCfg(root), "live").get
        .select("mrn", "conditionTypeId", "internalId", "updatedTimeUs",
          "action")
        .as[(String, String, String, Long, Option[String])]
        .collect().toSeq.sorted }
    def current(name: String) = { val (s, root) = roots(name)
      WirePipeline.liveConditions(spark, root, sink = s).get
        .select("conditionTypeId").as[String].collect().toSet }
    def links(name: String) = { val (s, root) = roots(name)
      WirePipeline.conditionVisits(spark, root, sink = s).get
        .select("mrn", "conditionTypeId", "internalId", "visitNumber")
        .as[(String, String, String, String)].collect().toSet }
    def watermark(name: String) = new String(Files.readAllBytes(
      java.nio.file.Paths.get(s"${roots(name)._2}/conditions/_INF_PROGRESS")))
      .trim.toLong

    // full raw state (incl. the DE tombstone version) matches
    assert(rawLive("jdbc") == rawLive("manifest"))
    assert(rawLive("jdbc").nonEmpty)
    // the DE-filtered current view agrees and drops the tombstone
    assert(current("jdbc") == current("manifest"))
    assert(!current("jdbc").contains("I10UK:C1") &&
      current("jdbc").contains("INFECTION:Strep") &&
      !current("jdbc").contains("INFECTION:RSV"))
    // insert-once link set identical (incl. the tombstone's V3 link)
    assert(links("jdbc") == links("manifest"))
    assert(links("jdbc") == Set(
      ("M3", "I10UK:C1", "700", "V1"),
      ("M4", "ALLERGY:PENICILLIN", "771", "V2"),
      ("M3", "I10UK:C1", "700", "V3")))
    // the serial-gate watermark advanced identically on both paths
    assert(watermark("jdbc") == watermark("manifest"))
    assert(watermark("jdbc") == 1704240000000000L)

    // W2: replaying a committed batch through the JDBC deployment is an
    // exact no-op per family (progress marks short-circuit)
    val before = (rawLive("jdbc"), links("jdbc"))
    WirePipeline.foldBatch(batch2, 2L, "raw", roots("jdbc")._2, sink = jdbc)
    assert((rawLive("jdbc"), links("jdbc")) == before)
  }

  test("two batches into one bitemporal root — ADT-only, then mixed with " +
      "first-seen families and a redelivered ADT frame — equal a one-shot " +
      "fold of the deduplicated messages, dead letters included") {
    val a01 = "MSH|^~\\&|EPIC|UCLH|||20240501080000||ADT^A01|B1|P|2.4\r" +
      "PID|1||M1^^^MRN^MRN\r" + pv1("V1")
    val a08 = "MSH|^~\\&|EPIC|UCLH|||20240501083000||ADT^A08|B2|P|2.4\r" +
      "PID|1||M1^^^MRN^MRN||ORANGE^Zest\r" + pv1("V1")
    val batch1 = Seq(a01, a08,
      "MSH|^~\\&|EPIC|UCLH|||20240501081000||ADT^A02|B3|P|2.4\r" +
        "PID|1||M2^^^MRN^MRN\r" + pv1("V2"),
      // no MRN: the adt guard's nack
      "MSH|^~\\&|EPIC|UCLH|||20240501082000||ADT^A01|B4|P|2.4\r" +
        "PID|1||^^^MRN^MRN\r" + pv1("V4"))
    val batch2 = Seq(
      a08, // redelivered across the batch boundary
      // labs appear for the first time, with implied ADT for M3
      "MSH|^~\\&|WP|UCLH|||20240501090000||ORU^R01|B5|P|2.4\r" +
        "PID|1||M3^^^MRN^MRN\r" + pv1("V3") + "\r" +
        "OBR|1||ORD1^LAB|FBC^FBC^WinPath|||20240501090000\r" +
        "OBX|1|NM|HGB||13.5|g/dL|||||F",
      // problem list with a visit: conditions + condition_visits
      "MSH|^~\\&|EPIC|Problem List|||20240501100000|X|PPR^PC1|B6|P|2.4\r" +
        "PID|1||M1^^^MRN^MRN\r" + pv1("V1") + "\r" +
        "PRB|AD|20240501100000|C1^Asthma^I10UK|700|||20240501100000",
      // A60 allergies: one valid IAM, one invalid-action nack
      "MSH|^~\\&|EPIC|UCLH|||20240501110000||ADT^A60|B7|P|2.4\r" +
        "EVN|A60|20240501110000\r" + "PID|1||M2^^^MRN^MRN\r" +
        "IAM|1|DA^Drug|1^PENICILLIN^ALG|SV^Severe|RASH|A|771^EPIC" +
        "||||20230115||20240501110000||||Active\r" +
        "IAM|2|DA^Drug|2^ASPIRIN^ALG||R|Q|772^EPIC",
      // ORM consult with a question: consults + questions
      "MSH|^~\\&|EPIC|Consult Orders|||20240501120000|X|ORM^O01|B8|P|2.4\r" +
        "PID|1||M2^^^MRN^MRN\r" + pv1("V2") + "\r" +
        "ORC|NW|9001^EPC|||||||20240501120000\r" +
        "NTE|1||Reason?->sepsis",
      // unhandled type: the router's dead letter
      "MSH|^~\\&|EPIC|XX|||20240501130000||SIU^S12|B9|P|2.4")

    val split = Files.createTempDirectory("wire_two_batch").toString
    WirePipeline.foldBatch(batch1.toDF("raw"), 1L, "raw", split,
      bitemporal = true)
    WirePipeline.foldBatch(batch2.toDF("raw"), 2L, "raw", split,
      bitemporal = true)
    val oneShot = Files.createTempDirectory("wire_one_shot").toString
    WirePipeline.foldBatch((batch1 ++ batch2).distinct.toDF("raw"), 1L,
      "raw", oneShot, bitemporal = true)

    def dirs(p: java.nio.file.Path): Seq[java.nio.file.Path] =
      if (!Files.isDirectory(p)) Nil else {
        val s = Files.list(p)
        try s.toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
          .filter(Files.isDirectory(_)).sortBy(_.toString)
        finally s.close()
      }
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select(to_json(struct(df.columns.sorted.map(col): _*)))
        .as[String].collect().toSeq.sorted
    // family → rows of its current belief (open stored records)
    def beliefs(root: String): Map[String, Seq[String]] =
      dirs(java.nio.file.Paths.get(root))
        .filter(d => Files.exists(d.resolve("_CURRENT")))
        .map { d =>
          val bt = StarPipeline.readBitemporal(spark, d.toString).get
          d.getFileName.toString -> rows(bt
            .filter(col("stored_until_us").isNull)
            .drop("stored_from_us", "stored_until_us"))
        }.toMap
    // channel → dead rows over every batch
    def deadRows(root: String): Map[String, Seq[String]] =
      dirs(java.nio.file.Paths.get(root, "dead")).map { ch =>
        ch.getFileName.toString ->
          dirs(ch).flatMap(b => rows(spark.read.parquet(b.toString))).sorted
      }.toMap

    val want = beliefs(oneShot)
    assert(want.keySet == Set("adt", "labs", "conditions",
      "condition_visits", "consults", "questions"))
    assert(want.values.forall(_.nonEmpty))
    assert(beliefs(split) == want)
    val wantDead = deadRows(oneShot)
    assert(wantDead.keySet == Set("adt", "allergies", "router", "labs",
      "conditions", "consults"))
    assert(wantDead.map { case (k, v) => k -> v.size } == Map("adt" -> 1,
      "allergies" -> 1, "router" -> 1, "labs" -> 0, "conditions" -> 0,
      "consults" -> 0))
    assert(deadRows(split) == wantDead)
  }

  private def adtHistory(root: String) = StarPipeline.readState(spark,
    StarPipeline.Config(s"$root/adt", Seq("mrn"), "validFromUs",
      "sourceMessageId", WirePayload, nBuckets = 8), "history").get

  test("an ADT frame with no trigger lands in the router's dead letter") {
    val root = Files.createTempDirectory("wire_no_trigger").toString
    val noTrigger = Seq(
      "MSH|^~\\&|EPIC|UCLH|||20240601080000||ADT|T2|P|2.4\r" +
        "PID|1||M2^^^MRN^MRN\r" + pv1("V2"),
      "MSH|^~\\&|EPIC|UCLH|||20240601080000||ADT^|T3|P|2.4\r" +
        "PID|1||M3^^^MRN^MRN\r" + pv1("V3"))
    WirePipeline.foldBatch((noTrigger :+
      ("MSH|^~\\&|EPIC|UCLH|||20240601080000||ADT^A01|T1|P|2.4\r" +
        "PID|1||M1^^^MRN^MRN\r" + pv1("V1"))).toDF("raw"), 7L, "raw", root)
    val dead = spark.read.parquet(s"$root/dead/router/batch=7")
      .select("raw", "reason").as[(String, String)].collect().toSet
    assert(dead == noTrigger.map(_ -> "unhandled_type:ADT^").toSet)
    assert(adtHistory(root).select("sourceMessageId").as[String].collect()
      .toSeq == Seq("T1"))
  }

  test("unhandled ADT triggers go to the adt dead letter, not the star") {
    val root = Files.createTempDirectory("wire_unhandled").toString
    def adt(trig: String, id: String, mrn: String, evn4: String = "") =
      s"MSH|^~\\&|EPIC|UCLH|||20240601080000||ADT^$trig|$id|P|2.4\r" +
        s"EVN|$trig|20240601080000||$evn4\r" +
        s"PID|1||$mrn^^^MRN^MRN\r" + pv1(s"V$mrn")
    WirePipeline.foldBatch(Seq(adt("A01", "U1", "M1"),
      adt("A14", "U2", "M2"), adt("A99", "U3", "M3"),
      adt("A04", "U4", "M4", evn4 = "ENC_CREATE")).toDF("raw"), 1L, "raw",
      root)
    val dead = spark.read.parquet(s"$root/dead/adt/batch=1")
      .select("sourceMessageId", "reason").as[(String, String)].collect()
    assert(dead.toSet == Set("U2", "U3", "U4").map(_ -> "unhandled_type"))
    assert(adtHistory(root).select("sourceMessageId", "msgType")
      .as[(String, String)].collect().toSeq == Seq(("U1", "Admit")))
    assert(WirePipeline.derived(spark, root).get.intervals
      .select("visitId").as[String].collect().toSeq == Seq("VM1"))
  }

  test("a BIO-CONNECT frame with two OBX lands in the bioconnect lab " +
      "dead letter with reason builder_error; a single-OBX frame folds") {
    val root = Files.createTempDirectory("wire_bioconnect").toString
    val one = Seq(
      "MSH|^~\\&|BIO-CONNECT|UCLH|||20240501120000||ORU^R01|BC01|P|2.4",
      "PID|1||40800000^^^MRN^MRN",
      "ORC|RE",
      "OBR|1|PLACER9^X|FILLER1^Y|GLU^Glucose|||20240501115500|||||||20240501115800",
      "OBX|1|NM|GLU^Glucose^BC||5.1|mmol/L||N|||F|||20240501115900").mkString("\r")
    val two = Seq(
      "MSH|^~\\&|BIO-CONNECT|UCLH|||20240501120000||ORU^R01|BC02|P|2.4",
      "PID|1||40800001^^^MRN^MRN",
      "ORC|RE",
      "OBR|1|P1^X|F1^Y|GLU^Glucose|||20240501115500|||||||20240501115800",
      "OBX|1|NM|GLU^Glucose||5.1|||||F",
      "OBX|2|NM|K^Potassium||4.0|||||F").mkString("\r")
    WirePipeline.foldBatch(Seq(one, two).toDF("raw"), 3L, "raw", root)
    val dead = spark.read.parquet(s"$root/dead/labs_bioconnect/batch=3")
      .select("sourceMessageId", "reason").as[(String, String)].collect()
    assert(dead.toSeq == Seq(("BC02", "builder_error")))
    val labs = StarPipeline.readState(spark,
      StarPipeline.Config(s"$root/labs", Nil, "", "", Nil), "live").get
    assert(labs.select("sourceMessageId").as[String].collect().toSeq ==
      Seq("BC01"))
  }

  /** For each family guard, one frame its rules reject, named `dead dir
    * → (frame, its dead rows as (sourceMessageId, reason))`; fixtures
    * after `Hl7WireSpec` and `LabFunnelSpec`. */
  private val guardRejects: Map[String, (String, Seq[(String, String)])] = Map(
    "adt" -> ("MSH|^~\\&|EPIC|UCLH|||20240801080000||ADT^A01|G1|P|2.4\r" +
      "PID|1||^^^MRN^MRN\r" + pv1("V9"), Seq("G1" -> "missing_mrn")),
    "labs" -> ("MSH|^~\\&|WP|UCLH|||20240801090000||ORU^R01|G2|P|2.4\r" +
      "OBR|1|||FBC^FBC^WinPath|||20240801090000\r" +
      "OBX|1|NM|HGB||13.5|g/dL|||||F", Seq("G2" -> "missing_order")),
    "labs_abl" -> (Seq(
      "MSH|^~\\&|ABL90 FLEX Plus|UCLH|||20240801||ORU^R30|G3|P|2.4",
      "OBR|1|1^A|2^B|VBG^Gas|||20240801115500|||||||20240801115800|" +
        "Proficiency Testing",
      "OBX|1|NM|pH^pH||7.4|||||F").mkString("\r"),
      Seq("G3" -> "builder_error")),
    "labs_bioconnect" -> (Seq(
      "MSH|^~\\&|BIO-CONNECT|UCLH|||20240801120000||ORU^R01|G4|P|2.4",
      "ORC|RE",
      "OBR|1|P1^X|F1^Y|GLU^Glucose|||20240801115500|||||||20240801115800",
      "OBX|1|NM|GLU^Glucose||5.1|||||F",
      "OBX|2|NM|K^Potassium||4.0|||||F").mkString("\r"),
      Seq("G4" -> "builder_error")),
    // two order groups: each group's order is a nack
    "labs_bankmanager" -> (Seq(
      "MSH|^~\\&|BM|UCLH|||20240801120000||ORU^R01|G5|P|2.4",
      "ORC|RE|EP1",
      "OBR|1|EP1|SPEC1|PROF1^Profile^^Profiles|||20240801100000",
      "OBX|1|ST|ABO^Blood group||A Pos||||||F",
      "OBR|2|EP1|SPEC2|PROF1^Profile^^Profiles|||20240801100000",
      "OBX|1|ST|ABO^Blood group||A Pos||||||F").mkString("\r"),
      Seq("G5" -> "builder_error", "G5" -> "builder_error")),
    "labs_copath" -> (Seq(
      "MSH|^~\\&|Bridges|UCLH|||20240801||ORU^R01|G6|P|2.4",
      "ORC|XX|UH24-7|UH24-7||CM",
      "OBR|1|UH24-7|UH24-7|C^Cyto^CPEAP|||20240801100000",
      "OBX|1|TX|UH24-7^^CPEAP||Cells seen||||||F").mkString("\r"),
      Seq("G6_01" -> "builder_error")),
    "labs_imaging" -> (Seq(
      "MSH|^~\\&|IMG_RESULT|UCLH|||20240801||ORU^R01|G7|P|2.4",
      "ORC|NW|IMG9|ACC9",
      "OBR|1|IMG9|ACC9|XR^Xray|||20240801100000|||||||||||||||" +
        "20240801113000|||F",
      "OBX|1|TX|GDT^^||All normal||||||F").mkString("\r"),
      Seq("G7_01" -> "builder_error")),
    // ORC-2 and OBR-2 disagree on the epic order number
    "lab_status" -> (Seq(
      "MSH|^~\\&|EPIC|EPIC|||20240801120000||ORM^O01|G8|P|2.4",
      "ORC|NW|94000010|123456789||||||20240801115000",
      "OBR|1|94000099|123456789|FBC^FBC^WinPath|||20240801114500")
      .mkString("\r"), Seq("G8_01" -> "builder_error")),
    // no PV1: no visit to hang the observation on
    "flowsheets" -> ("MSH|^~\\&|CV|Vitals|||20240801000000||ORU^R01|G9|P|2.4" +
      "\rOBX|1|NM|5^HR||80|bpm|||||F", Seq("G9$01" -> "missing_visit")),
    "conditions" -> ("MSH|^~\\&|EPIC|PL|||20240801000000|X|PPR^PC1|G10|P|2.4" +
      "\rPRB|AD|20240801000000|A^B^C|9", Seq("G10" -> "missing_mrn")),
    "allergies" -> ("MSH|^~\\&|EPIC|UCLH|||20240801110000||ADT^A60|G11|P|2.4" +
      "\rEVN|A60|20240801110000\rPID|1||M4^^^MRN^MRN\r" +
      "IAM|2|DA^Drug|2^ASPIRIN^ALG||R|Q|772^EPIC",
      Seq("G11" -> "invalid_action")),
    "consults" -> ("MSH|^~\\&|EPIC|Consult Orders|||20240801000000|X|ORM^O01" +
      "|G12|P|2.4\rPID|1||M2^^^MRN^MRN\rORC|NW||||||||20240801000000",
      Seq("G12" -> "missing_id")),
    "advance_decisions" -> ("MSH|^~\\&|EPIC|DNACPR|||20240801000000|X|" +
      "ORM^O01|G13|P|2.4\rPID|1||M2^^^MRN^MRN\rORC|NW||||||||20240801000000",
      Seq("G13" -> "missing_id")))

  /** One frame per family that every guard passes, named `star → (frame,
    * the MSH-10 its star rows carry)`; the five lab systems share the
    * labs star. */
  private val guardClean: Seq[(String, String, String)] = Seq(
    ("adt", "K1", "MSH|^~\\&|EPIC|UCLH|||20240801080000||ADT^A01|K1|P|2.4\r" +
      "PID|1||M1^^^MRN^MRN\r" + pv1("V1")),
    ("labs", "K2", "MSH|^~\\&|WP|UCLH|||20240801090000||ORU^R01|K2|P|2.4\r" +
      "PID|1||M2^^^MRN^MRN\r" + pv1("V2") + "\r" +
      "OBR|1||ORD1^LAB|FBC^FBC^WinPath|||20240801090000\r" +
      "OBX|1|NM|HGB||13.5|g/dL|||||F"),
    ("labs", "K3", Seq(
      "MSH|^~\\&|ABL90 FLEX Plus|UCLH|||20240801120000||ORU^R30|K3|P|2.4",
      "PID|1||40800000^^^MRN^MRN",
      "OBR|1|12345^A|54321^B|VBG^Venous blood gas|||20240801115500|||||||" +
        "20240801115800|Venous blood&Blood venous",
      "OBX|1|NM|pH^pH^ABL|1|7.35|||N|||F|||20240801115900").mkString("\r")),
    ("labs", "K4", Seq(
      "MSH|^~\\&|BIO-CONNECT|UCLH|||20240801120000||ORU^R01|K4|P|2.4",
      "PID|1||40800000^^^MRN^MRN",
      "ORC|RE",
      "OBR|1|PLACER9^X|FILLER1^Y|GLU^Glucose|||20240801115500|||||||" +
        "20240801115800",
      "OBX|1|NM|GLU^Glucose^BC||5.1|mmol/L||N|||F|||20240801115900")
      .mkString("\r")),
    ("labs", "K5", Seq(
      "MSH|^~\\&|BM|UCLH|||20240801120000||ORU^R01|K5|P|2.4",
      "PID|1||40800000^^^MRN^MRN",
      "ORC|RE|EP123",
      "OBR|1|EP123|SPEC77|PROF1^Profile^^Profiles|||20240801100000|||||||||" +
        "||||||20240801113000",
      "OBX|1|ST|ABO^Blood group||A Pos||||||F").mkString("\r")),
    ("labs", "K6", "MSH|^~\\&|Co-Path|UCLH|||20240801130000||ORU^R01|K6|P|2.4" +
      "\rPID|1||P1^^^MRN^MRN\rORC|RE|CP100|SPEC100^CoPathPlus||CM\r" +
      "OBR|1|CP100|SPEC100^CoPathPlus|UH^Histology^CPEAP|||20240801120000\r" +
      "OBX|1|TX|TX^Report^CoPath||Malignant cells seen||||||F"),
    ("labs", "K7", "MSH|^~\\&|IMG_RESULT|UCLH|||20240801140000||ORU^R01|K7|P|" +
      "2.4\rPID|1||P2^^^MRN^MRN\rORC|RE|IMG200|ACC200||CM\r" +
      "OBR|1|IMG200|ACC200|XR^Chest XRay^PACS|||20240801130000\r" +
      "OBX|1|TX|GDT^^PACS||No acute findings||||||F"),
    ("lab_status", "K8", "MSH|^~\\&|WP|UCLH|||20240801120000||ORR^O02|K8|P|" +
      "2.4\rPID|1||M2^^^MRN^MRN\rORC|NA|94000010|123456789||||||" +
      "20240801113000\rOBR|1|94000010|123456789|FBC^F^WinPath|||" +
      "20240801090000"),
    ("flowsheets", "K9", Seq(
      "MSH|^~\\&|CAREVUE|Vitals|||20240801120000||ORU^R01|K9|P|2.4",
      "PID|1||40800000^^^MRN^MRN",
      (Seq("PV1", "1", "I", "T03") ++ Seq.fill(15)("") :+ "777333")
        .mkString("|"),
      "OBX|1|NM|5^HEART RATE||92|bpm|||||F|||20240801115500").mkString("\r")),
    ("conditions", "K10", "MSH|^~\\&|EPIC|Problem List|||20240801100000|X|" +
      "PPR^PC1|K10|P|2.4\rPID|1||M3^^^MRN^MRN\r" +
      "PRB|AD|20240801100000|C1^Asthma^I10UK|700|||20240801100000"),
    ("conditions", "K11", "MSH|^~\\&|EPIC|UCLH|||20240801110000||ADT^A60|K11|" +
      "P|2.4\rEVN|A60|20240801110000\rPID|1||M4^^^MRN^MRN\r" +
      "IAM|1|DA^Drug|1^PENICILLIN^ALG|SV^Severe|RASH|A|771^EPIC" +
      "||||20230115||20240801110000||||Active"),
    ("consults", "K12", "MSH|^~\\&|EPIC|Consult Orders|||20240801120000|X|" +
      "ORM^O01|K12|P|2.4\rPID|1||M2^^^MRN^MRN\r" + pv1("V2") + "\r" +
      "ORC|NW|9001^EPC|||||||20240801120000"),
    ("advance_decisions", "K13", Seq(
      "MSH|^~\\&|EPIC|DNACPR|||20240801140020|OP9|ORM^O01|K13|P|2.4",
      "PID|1||40800000^^^MRN^MRN",
      "ORC|NW|555777^EPC|||||||20240801140000",
      (Seq("OBR", "1", "555777^EPC", "", "COD4^^^^DNACPR decision") ++
        Seq.fill(31)("") ++ Seq("20240801115500") ++ Seq.fill(7)("") :+
        "COD4").mkString("|")).mkString("\r")))

  /** MSH-10 of every row in a star's live table (a lab builder's
    * `_NN` / a flowsheet's `$NN` sub-id cut off). */
  private def starIds(root: String, star: String): Set[String] =
    StarPipeline.readState(spark,
      StarPipeline.Config(s"$root/$star", Nil, "", "", Nil), "live")
      .fold(Set.empty[String])(_.select("sourceMessageId").as[String]
        .collect().map(_.takeWhile(c => c != '_' && c != '$')).toSet)

  test("every family guard dead-letters exactly the frame it rejects, " +
      "under its own name, and passes the clean frames to their stars") {
    val root = Files.createTempDirectory("wire_guards").toString
    WirePipeline.foldBatch((guardRejects.values.map(_._1).toSeq ++
      guardClean.map(_._3)).toDF("raw"), 4L, "raw", root)
    for ((name, (_, want)) <- guardRejects) {
      val got = spark.read.parquet(s"$root/dead/$name/batch=4")
        .select("sourceMessageId", "reason").as[(String, String)]
        .collect().toSeq.sorted
      assert(got == want.sorted, name)
    }
    for ((star, frames) <- guardClean.groupBy(_._1))
      assert(frames.map(_._2).toSet.subsetOf(starIds(root, star)), star)
  }

  test("a guard that rejects nothing leaves no dead-letter batch dir, " +
      "and a refold of the batch id removes an earlier run's") {
    val root = Files.createTempDirectory("wire_guards_clean").toString
    def batchDirs(id: Long) = guardRejects.keys.filter(name =>
      Files.exists(java.nio.file.Paths.get(s"$root/dead/$name/batch=$id")))
    WirePipeline.foldBatch(guardClean.map(_._3).toDF("raw"), 5L, "raw", root)
    assert(batchDirs(5L).isEmpty, batchDirs(5L))
    for ((star, frames) <- guardClean.groupBy(_._1))
      assert(frames.map(_._2).toSet.subsetOf(starIds(root, star)), star)

    // batch 6 first runs with every reject, then replays with none
    val all = guardRejects.values.map(_._1).toSeq ++ guardClean.map(_._3)
    WirePipeline.foldBatch(all.toDF("raw"), 6L, "raw", root)
    assert(batchDirs(6L).toSet == guardRejects.keySet)
    WirePipeline.foldBatch(guardClean.map(_._3).toDF("raw"), 6L, "raw", root)
    assert(batchDirs(6L).isEmpty, batchDirs(6L))
  }

  private val adtOnly = Seq(
    "MSH|^~\\&|EPIC|UCLH|||20240701080000||ADT^A01|J1|P|2.4\r" +
      "PID|1||M1^^^MRN^MRN\r" + pv1("V1"),
    "MSH|^~\\&|EPIC|UCLH|||20240701083000||ADT^A08|J2|P|2.4\r" +
      "PID|1||M1^^^MRN^MRN||ORANGE^Zest\r" + pv1("V1"),
    // no MRN: the adt guard's nack
    "MSH|^~\\&|EPIC|UCLH|||20240701082000||ADT^A01|J3|P|2.4\r" +
      "PID|1||^^^MRN^MRN\r" + pv1("V4"))

  test("an ADT-only fold and a mixed fold run no more Spark jobs than " +
      "the two-pass kinds probe did") {
    val mixed = adtOnly ++ Seq(
      "MSH|^~\\&|WP|UCLH|||20240701090000||ORU^R01|J4|P|2.4\r" +
        "PID|1||M3^^^MRN^MRN\r" + pv1("V3") + "\r" +
        "OBR|1||ORD1^LAB|FBC^FBC^WinPath|||20240701090000\r" +
        "OBX|1|NM|HGB||13.5|g/dL|||||F",
      "MSH|^~\\&|EPIC|Problem List|||20240701100000|X|PPR^PC1|J5|P|2.4\r" +
        "PID|1||M1^^^MRN^MRN\r" + pv1("V1") + "\r" +
        "PRB|AD|20240701100000|C1^Asthma^I10UK|700|||20240701100000",
      "MSH|^~\\&|EPIC|Consult Orders|||20240701120000|X|ORM^O01|J6|P|2.4\r" +
        "PID|1||M2^^^MRN^MRN\r" + pv1("V2") + "\r" +
        "ORC|NW|9001^EPC|||||||20240701120000\r" + "NTE|1||Reason?->sepsis",
      "MSH|^~\\&|EPIC|XX|||20240701130000||SIU^S12|J7|P|2.4")
    // (a first fold into an empty root, a second fold over its state)
    def jobs(raws: Seq[String]): (Int, Int) = {
      val root = Files.createTempDirectory("wire_jobs").toString
      def fold(batchId: Long) = org.apache.spark.sql.graftbridge.JobCount(
        spark)(WirePipeline.foldBatch(raws.toDF("raw"), batchId, "raw", root))
      (fold(1L), fold(2L))
    }
    // 14 and 58 with the driver-side kinds probe this replaced: a (type,
    // trigger) pass, plus a coding-system pass over order/result rows.
    // A second fold reads its touched buckets with the schemas its steps
    // know; inferring them from the files cost 15 and 62 jobs. Each star
    // fold writes its tables in one write, and the router and bucket
    // probes are shuffle-free observations: 9 and 24 jobs. A guard that
    // rejects nothing writes no dead-letter batch (the mixed batch's labs,
    // conditions and consults guards): 9 and 21.
    val ((adtJobs, adtAgain), (mixedJobs, mixedAgain)) =
      (jobs(adtOnly), jobs(mixed))
    assert(adtJobs <= 9, adtJobs)
    assert(mixedJobs <= 21, mixedJobs)
    assert(adtAgain <= 9, adtAgain)
    assert(mixedAgain <= 21, mixedAgain)
  }

  test("a fold leaves its session's conf as it found it") {
    // a fresh child session starts from the context's conf; the fold
    // must run under it as built, not raise or pin anything on it
    val s2 = SharedSpark.spark.newSession()
    val before = s2.conf.getAll
    val root = Files.createTempDirectory("wire_conf").toString
    WirePipeline.foldBatch(s2.createDataset(adtOnly)(
      org.apache.spark.sql.Encoders.STRING).toDF("raw"), 1L, "raw", root)
    assert(s2.conf.getAll == before)
  }
}
