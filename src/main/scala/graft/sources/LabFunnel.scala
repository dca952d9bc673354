package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions.let
import graft.functions.Hl7Timestamp.hl7TsUs
import Hl7Wire._

/** S2 lab funnel: coding-system routing + per-source lab-order builders.
  *
  * The reference fans one HL7 stream into six source-specific lab builders
  * (hl7-reader/.../OrderAndResultService.java:170-216 decides the coding
  * system from MSH-3/MSH-4/OBR-3.2/OBR-4.3/OBR-4.4; labs/LabFunnel.java
  * picks the builder). Here the whole funnel is pure `Column` algebra over
  * the raw message string: routing is a `when` chain and each builder is a
  * per-message array-HOF pipeline (segments → positional groups → order
  * structs; the lambdas run interpreted), so at any scale it stays one
  * narrow projection —
  * message count in, order count out, zero shuffles.
  *
  * Cross-order semantics the reference implements imperatively (WinPath
  * sub-id isolate merging, sensitivity re-parenting across orders of one
  * message — labs/WinPathLabBuilder.java:244-311) stay *inside the row*:
  * parents and children always share a message, so they are HOF rewrites
  * of the per-message orders array, never a join.
  *
  * Malformed input never throws: every reference
  * `Hl7InconsistencyException` / `Hl7MessageIgnoredException` site becomes
  * a non-null `error` column for the caller's dead-letter split (S3/S4).
  */
object LabFunnel {

  /** OrderCodingSystem names (ref emap-interchange OrderCodingSystem). */
  val WinPath = "WIN_PATH"
  val CoPath = "CO_PATH"
  val Abl90 = "ABL90_FLEX_PLUS"
  val BioConnect = "BIO_CONNECT"
  val BankManager = "BANK_MANAGER"
  val BloodProducts = "BLOOD_PRODUCTS"
  val Pacs = "PACS"
  val Flowsheet = "FLOWSHEET"
  val ConsultOrder = "CONSULT_ORDER"
  val AdvanceDecision = "ADVANCED_DECISION_ORDER"

  private val ImgApps =
    Seq("IMG_RESULT", "ELR_RESULT", "IMG_ADDENDUM", "IMG_PROC_CHANGE_RESULT")

  /** Decide the coding system of an order/result message — the column
    * form of OrderAndResultService.determineCodingSystem
    * (OrderAndResultService.java:170-216): OBR-4.3 names WinPath, CoPath
    * leaks through OBR-3.2/OBR-4.3, point-of-care analysers and PACS
    * identify by sending application (MSH-3), flowsheets / consults /
    * DNACPR by sending facility (MSH-4), Bank Manager by OBR-4.4.
    * Null = unknown (caller dead-letters).
    */
  def codingSystem(raw: Column): Column = {
    val msh = segment(raw, "MSH")
    val obr = segment(raw, "OBR")
    val app = cmp(mshFld(msh, 3), 1)
    val fac = trim(coalesce(cmp(mshFld(msh, 4), 1), lit("")))
    val fillerNs = cmp(fld(obr, 3), 2)
    val csName = cmp(fld(obr, 4), 3)
    val altId = cmp(fld(obr, 4), 4)
    when(csName === "WinPath", WinPath)
      .when(fillerNs === "CoPathPlus" || csName === "CPEAP", CoPath)
      .when(app === "BIO-CONNECT", BioConnect)
      .when(app === "ABL90 FLEX Plus", Abl90)
      .when(app.isin(ImgApps: _*), Pacs)
      .when(fac === "Vitals", Flowsheet)
      .when(fac === "Consult Orders", ConsultOrder)
      .when(fac === "DNACPR", AdvanceDecision)
      .when(altId === "Profiles", BankManager)
      .when(altId === "Products", BloodProducts)
      .otherwise(lit(null).cast("string"))
  }

  // ------------------------------------------------------------------
  // positional segment groups
  // ------------------------------------------------------------------

  /** Per-message order groups: one struct per anchor segment (OBR for
    * result messages, ORC for order messages), each carrying its ORC/OBR
    * pair plus the OBX and NTE segments (with positions) the anchor
    * [[Hl7Wire.owned owns]].
    */
  def orderGroups(raw: Column, anchorId: String): Column =
    // bind the shared per-row arrays once: inside the per-anchor lambda
    // below each reference would otherwise re-evaluate its whole
    // subtree (the positional transform + filter over the message's
    // segment array) per anchor — HOF lambdas get no subexpression
    // elimination
    let(positioned(raw)) { ps =>
    let(positionedOf(ps, anchorId)) { anchors =>
    let(positionedOf(ps, "ORC")) { orcs =>
    let(positionedOf(ps, "OBR")) { obrs =>
    let(positionedOf(ps, "OBX")) { obxs =>
    let(positionedOf(ps, "NTE")) { ntes =>
    transform(anchors, (a, k) => {
      val obrSeg =
        if (anchorId == "OBR") a.getField("seg")
        else get(owned(anchors, k, obrs), lit(0)).getField("seg")
      val orcSeg =
        if (anchorId == "ORC") a.getField("seg")
        else {
          // the ORC directly preceding this OBR (optional in ORU): the
          // last one the previous anchor, or the message head, owns
          val cands = owned(anchors, k - 1, orcs)
          get(cands, size(cands) - 1).getField("seg")
        }
      // Segments split into field arrays ONCE at group construction —
      // every downstream field access is then an O(1) array get. Inside
      // transform/filter lambdas Spark has no subexpression elimination
      // (HOFs never codegen), so a native [[Hl7Wire.fld]] per read would
      // rescan the segment up to its field for each of the ~25 reads.
      // (Against the regex-split accessors this replaced, the pre-split
      // measured ~10× faster on the WinPath builder; against native
      // reads it has not been re-measured.)
      struct(orcSeg.as("orc"), obrSeg.as("obr"),
        split(orcSeg, "\\|").as("orcF"), split(obrSeg, "\\|").as("obrF"),
        transform(owned(anchors, k, obxs), x => struct(
          x.getField("seg").as("seg"),
          split(x.getField("seg"), "\\|").as("f"),
          x.getField("pos").as("pos"))).as("obxs"),
        transform(owned(anchors, k, ntes), x => struct(
          split(x.getField("seg"), "\\|").as("f"),
          x.getField("pos").as("pos"))).as("ntes"))
    })}}}}}}

  // ------------------------------------------------------------------
  // NTE notes → questions + comments
  // ------------------------------------------------------------------

  /** Parse note lines into (questions, comments) the way the reference's
    * NotesParser does (hl7/parser/NotesParser.java:70-110): lines before
    * the first question are comments; a line matching `pattern` starts a
    * question (text before the first match) with the remainder as the
    * answer (re-joined on `sep` since the separator may appear in the
    * answer); non-matching lines append to the previous answer; repeated
    * questions merge answers with newlines.
    */
  def questionsAndComments(noteTexts: Column, sep: String, pattern: String): Column = {
    val zero = struct(
      array().cast("array<struct<q:string,a:string>>").as("qa"),
      array().cast("array<string>").as("com"),
      lit(null).cast("string").as("prevQ"))
    aggregate(
      filter(noteTexts, n => n.isNotNull), zero,
      (acc, n0) => {
        val n = trim(n0)
        val isQ = n.rlike(pattern)
        val parts = split(n, pattern, -1)
        val q = trim(get(parts, lit(0)))
        val a = array_join(slice(parts, 2, 1000000), sep)
        struct(
          when(isQ,
              concat(acc.getField("qa"), array(struct(q.as("q"), a.as("a")))))
            .when(acc.getField("prevQ").isNotNull,
              concat(acc.getField("qa"),
                array(struct(acc.getField("prevQ").as("q"), n.as("a")))))
            .otherwise(acc.getField("qa")).as("qa"),
          when(!isQ && acc.getField("prevQ").isNull,
              concat(acc.getField("com"), array(n)))
            .otherwise(acc.getField("com")).as("com"),
          when(isQ, q).otherwise(acc.getField("prevQ")).as("prevQ"))
      },
      acc => {
        val qs = aggregate(acc.getField("qa"),
          array().cast("array<string>"),
          (s, e) => when(array_contains(s, e.getField("q")), s)
            .otherwise(concat(s, array(e.getField("q")))))
        val questions = transform(qs, q => struct(
          q.as("question"),
          array_join(
            transform(filter(acc.getField("qa"), e => e.getField("q") === q),
              e => e.getField("a")), "\n").as("answer")))
        struct(questions.as("questions"),
          array_join(acc.getField("com"), "\n").as("comments"))
      })
  }

  /** NTE-3 text of the note segments in `ntes` (pre-split pos-struct
    * array).
    */
  private def noteTexts(ntes: Column): Column =
    transform(ntes, n => coalesce(trim(gf(n.getField("f"), 3)), lit("")))

  // ------------------------------------------------------------------
  // result structs
  // ------------------------------------------------------------------

  private val numRe = "^-?[0-9]+(\\.[0-9]+)?$"

  /** Shared LabResultMsg fields from one OBX segment (ref
    * labs/LabResultBuilder.java:96-235): test ids OBX-3.1/3.3, sub-id
    * OBX-4, value reps joined by newline, numeric parse with a leading
    * result operator (`<`/`>`), reference range OBX-7 (`lo-hi`, `<x`,
    * `>x`), abnormal flag OBX-8 suppressing the source's normal flag,
    * status OBX-11. `forceNumeric` = point-of-care builders that treat
    * every value as numeric, deleting the stored value when unparseable
    * (AblResultBuilder.java:58-72). A numeric parse failure surfaces as
    * `numericDelete` (the kernel's F8 delete semantics downstream).
    */
  private def resultStruct(xf: Column, pos: Column, notes: Column,
                           resultTimeUs: Column, normalFlag: Option[String],
                           forceNumeric: Boolean, epicOrderNumber: Column): Column = {
    val valueType = gf(xf, 2)
    val strValue = when(gf(xf, 5).isNotNull,
      array_join(split(gf(xf, 5), "~"), "\n"))
    val isNm = if (forceNumeric) lit(true) else valueType === "NM"
    val hasOp = substring(strValue, 1, 1).isin("<", ">")
    val numStr = when(hasOp, substring(strValue, 2, 1000000)).otherwise(strValue)
    val numOk = numStr.rlike(numRe)
    val num = when(isNm && numOk, numStr.cast("double"))
    val rr = gf(xf, 7)
    val rrParts = split(rr, "-")
    val rrRange = size(rrParts) === 2 &&
      get(rrParts, lit(0)).rlike(numRe) && get(rrParts, lit(1)).rlike(numRe)
    val flagRaw = nullIfEmpty(regexp_replace(coalesce(gf(xf, 8), lit("")), "~", ""))
    val flag = normalFlag match {
      case Some(n) => when(flagRaw === n, lit(null)).otherwise(flagRaw)
      case None => flagRaw
    }
    val textish = valueType.isin("ST", "FT", "TX", "NM")
    struct(
      pos.as("ord"),
      gf(xf, 1).cast("int").as("setId"),
      cmp(gf(xf, 3), 1).as("testCode"),
      cmp(gf(xf, 3), 3).as("testCodingSystem"),
      gf(xf, 4).as("subId"),
      valueType.as("valueType"),
      rep1(gf(xf, 5)).as("rawValue"),
      when(isNm, "NUMERIC").otherwise("TEXT").as("mimeType"),
      (if (forceNumeric) strValue else when(textish, strValue)).as("stringValue"),
      num.as("numericValue"),
      when(isNm && num.isNotNull,
        when(hasOp, substring(strValue, 1, 1)).otherwise("=")).as("resultOperator"),
      coalesce(isNm && strValue.isNotNull && !numOk, lit(false)).as("numericDelete"),
      cmp(gf(xf, 6), 1).as("units"),
      when(rrRange, get(rrParts, lit(0)).cast("double"))
        .when(rr.startsWith(">") && substring(rr, 2, 1000000).rlike(numRe),
          substring(rr, 2, 1000000).cast("double")).as("refLow"),
      when(rrRange, get(rrParts, lit(1)).cast("double"))
        .when(rr.startsWith("<") && substring(rr, 2, 1000000).rlike(numRe),
          substring(rr, 2, 1000000).cast("double")).as("refHigh"),
      flag.as("abnormalFlag"),
      gf(xf, 11).as("status"),
      resultTimeUs.as("resultTimeUs"),
      when(length(notes) > 0, notes).as("notes"),
      epicOrderNumber.as("epicOrderNumber"))
  }

  private val resultFields = Seq("ord", "setId", "testCode", "testCodingSystem",
    "subId", "valueType", "rawValue", "mimeType", "stringValue", "numericValue",
    "resultOperator", "numericDelete", "units", "refLow", "refHigh",
    "abnormalFlag", "status", "resultTimeUs", "notes", "epicOrderNumber")

  private def rebuildResult(r: Column, overrides: Map[String, Column],
                            isolate: Column): Column =
    struct(resultFields.map(f =>
      overrides.getOrElse(f, r.getField(f)).as(f)) :+ isolate.as("isolate"): _*)

  private def sensStruct(r: Column): Column = struct(
    r.getField("testCode").as("testCode"),
    r.getField("stringValue").as("stringValue"),
    r.getField("numericValue").as("numericValue"),
    r.getField("resultOperator").as("resultOperator"),
    r.getField("units").as("units"),
    r.getField("abnormalFlag").as("abnormalFlag"),
    r.getField("resultTimeUs").as("resultTimeUs"),
    r.getField("notes").as("notes"))

  private val emptySens =
    "array<struct<testCode:string,stringValue:string,numericValue:double," +
      "resultOperator:string,units:string,abnormalFlag:string," +
      "resultTimeUs:bigint,notes:string>>"

  private def isolateStruct(code: Column, name: Column, cultureType: Column,
                            quantity: Column, clinicalInfo: Column,
                            sensitivities: Column): Column =
    struct(code.as("code"), name.as("name"), cultureType.as("cultureType"),
      quantity.as("quantity"), clinicalInfo.as("clinicalInfo"),
      sensitivities.as("sensitivities"))

  // ------------------------------------------------------------------
  // shared order fields
  // ------------------------------------------------------------------

  /** Patient/context columns shared by every builder
    * (LabOrderBuilder.setSourceAndPatientIdentifiers).
    */
  private def patientCols(raw: Column): (Column, Column, Column) = {
    val msh = segment(raw, "MSH")
    val pid = segment(raw, "PID")
    val pv1 = segment(raw, "PV1")
    (coalesce(cmp(mshFld(msh, 3), 1), lit("Not in Message")),
      cmp(rep1(fld(pid, 3)), 1),
      coalesce(cmp(fld(pv1, 19), 1), cmp(fld(pid, 18), 1)))
  }

  private val cancelOcIds = Seq("CA", "CR", "OC")

  /** ORC-9 dispatch + OBR temporal/battery fields shared by the WinPath /
    * CoPath family (LabOrderBuilder.populateOrderInformation:83-123 and
    * populateObrFields:196-240): NW/SN stamp order time, cancels stamp
    * status-change, SC backfills sample-received when OBR-25 = I.
    * Returns the named columns a builder composes into its order struct.
    */
  private def orderCore(g: Column): Map[String, Column] = {
    val orcF = g.getField("orcF")
    val obrF = g.getField("obrF")
    val oc = gf(orcF, 1)
    val orc9 = hl7TsUs(gf(orcF, 9))
    val obr22 = hl7TsUs(gf(obrF, 22))
    val sps1 = cmp(gf(obrF, 15), 1)
    Map(
      "orderControlId" -> oc,
      "orderStatus" -> gf(orcF, 5),
      "collectionTimeUs" -> hl7TsUs(gf(obrF, 7)),
      "requestedTimeUs" -> hl7TsUs(gf(obrF, 6)),
      "orderTimeUs" -> when(oc.isin("NW", "SN"), orc9),
      "sampleReceivedTimeUs" ->
        when(oc === "SC" && gf(obrF, 25) === "I", orc9),
      "statusChangeTimeUs" ->
        when(oc.isin("NW", "SN", "NA", "CR", "CA", "OC"), orc9)
          .when(oc === "SC", coalesce(obr22, orc9))
          .otherwise(obr22),
      "labDepartment" -> gf(obrF, 24),
      "resultStatus" -> gf(obrF, 25),
      "battery" -> cmp(gf(obrF, 4), 1),
      "specimenType" -> nullIfEmpty(get(split(sps1, "&"), lit(0))),
      "collectionMethod" ->
        nullIfEmpty(array_join(split(cmp(gf(obrF, 15), 3), "&"), ", ")),
      "clinicalInfo" -> coalesce(gf(obrF, 13), cmp(gf(obrF, 31), 2)),
      "parentObsId" -> nullIfEmpty(get(split(cmp(gf(obrF, 26), 1), "&"), lit(0))),
      "parentSubId" -> cmp(gf(obrF, 26), 2),
      "epicOrderNumberOrc" -> cmp(gf(orcF, 2), 1),
      "epicOrderNumberObr" -> cmp(gf(obrF, 2), 1),
      "orcFiller" -> cmp(gf(orcF, 3), 1),
      "orcPlacerGroup" -> cmp(gf(orcF, 4), 1))
  }

  private val orderFields = Seq("sourceMessageId", "sourceSystem", "mrn",
    "visitNumber", "codingSystem", "orderControlId", "orderStatus",
    "epicOrderNumber", "epicOrderDelete", "labSpecimenNumber", "specimenType",
    "collectionMethod", "collectionTimeUs", "requestedTimeUs", "orderTimeUs",
    "sampleReceivedTimeUs", "statusChangeTimeUs", "labDepartment",
    "resultStatus", "battery", "batteryCodingSystem", "clinicalInfo",
    "parentObsId", "parentSubId", "questions", "comments", "error", "results")

  private def rebuildOrder(o: Column, overrides: Map[String, Column]): Column =
    struct(orderFields.map(f => overrides.getOrElse(f, o.getField(f)).as(f)): _*)

  private val nullQuestions =
    lit(null).cast("array<struct<question:string,answer:string>>")

  /** Explode a per-message orders array into one output row per order,
    * carrying the input columns through (dead-letter context).
    */
  private def explodeOrders(df: DataFrame, orders: Column): DataFrame = {
    val carried = df.columns
      .filterNot(c => orderFields.contains(c) || c.startsWith("__")).map(col)
    // explode_OUTER + null filter ≡ explode, but the optimizer's
    // InferFiltersFromGenerate only fires on the non-outer form — and
    // its inferred `size(arr) > 0` predicate gets the WHOLE parse
    // expression substituted in by pushdown, evaluating every message's
    // parse twice (confirmed by stack sampling). The null check below
    // tests the exploded attribute: one cheap comparison per row.
    df.withColumn("__toExplode", orders)
      .select(col("*"), explode_outer(col("__toExplode")).as("__o"))
      .filter(col("__o").isNotNull)
      .select(orderFields.map(f => col("__o").getField(f).as(f)) ++ carried: _*)
  }

  private def subMsgId(msh10: Column, k: Column): Column =
    concat(msh10, lit("_"), lpad((k + 1).cast("string"), 2, "0"))

  // ------------------------------------------------------------------
  // WinPath (+ CoPath order path)
  // ------------------------------------------------------------------

  /** ORM^O01 / ORR^O02 order messages (no results) for the WinPath and
    * CoPath coding systems (WinPathLabBuilder.build ORM/ORR:176-231,
    * CoPathLabBuilder.build): one order per ORC group, sub-message id
    * `unid_%02d`, order-control allowlist, cancel control ids turning the
    * epic order number into a delete, source-specific specimen-number
    * rules and question separators. Disallowed order controls and
    * specimen-number violations surface on `error`.
    */
  def parseOrderMessages(df: DataFrame, rawCol: String, system: String): DataFrame = {
    val raw = col(rawCol)
    val msh = segment(raw, "MSH")
    val (srcSys, mrn, visit) = patientCols(raw)
    val groups = orderGroups(raw, "ORC")
    val orders = transform(groups, (g, k) =>
      orderStructFor(system, g, k, msh, srcSys, mrn, visit, withResults = false))
    explodeOrders(df, orders)
  }

  /** One WinPath/CoPath order struct from a positional group. Shared by
    * the ORM/ORR path (no results) and the ORU path (with results).
    */
  private def orderStructFor(system: String, g: Column, k: Column, msh: Column,
                             srcSys: Column, mrn: Column, visit: Column,
                             withResults: Boolean,
                             overrides: Map[String, Column] = Map.empty): Column = {
    val core = orderCore(g)
    val oc = core("orderControlId")
    val allowed =
      if (system == WinPath) Seq("RE", "NW", "SC", "SN", "NA", "CA", "CR", "OC")
      else Seq("RE", "NW", "SC", "SN", "NA", "CA", "CR", "OC") // CoPath shares the list (CoPathLabBuilder.java:49-53)
    val orcNum = core("epicOrderNumberOrc")
    val obrNum = core("epicOrderNumberObr")
    // WinPath: 9-digit specimen from ORC-3 (fallback ORC-4), error if short
    // (WinPathLabBuilder.setLabSpecimenNumber:150-163); CoPath takes the
    // value as-is (CoPathLabBuilder.setLabSpecimenNumber:76-80).
    val specimenRaw = coalesce(core("orcFiller"), core("orcPlacerGroup"), lit(""))
    val specimen =
      if (system == WinPath) when(length(specimenRaw) >= 9, substring(specimenRaw, 1, 9))
      else nullIfEmpty(specimenRaw)
    // Epic alters H/C battery codes for CoPath (CoPathLabBuilder.java:91-96)
    val battery0 = core("battery")
    val battery =
      if (system == CoPath)
        when(battery0.isin("H", "C"), concat(lit("U"), battery0)).otherwise(battery0)
      else battery0
    // CoPath: internal lab number duplicated into ORC-2 → no epic number
    // (CoPathLabBuilder.setEpicOrderNumberFromORC:98-110)
    val epicSame = if (system == CoPath) orcNum === specimenRaw else lit(false)
    val epic = when(!epicSame, orcNum)
    val epicDelete = coalesce(oc.isin(cancelOcIds: _*) && !epicSame, lit(false))
    val mismatch =
      if (system == WinPath)
        coalesce(orcNum, lit("")) =!= coalesce(obrNum, lit(""))
      else lit(false)
    val (qSep, qPat) = if (system == CoPath) ("->", "->") else (":", "[:?]-")
    val err =
      when(mismatch, lit("epic_order_number_mismatch"))
        .when(if (system == WinPath) length(specimenRaw) < 9 else lit(false),
          concat(lit("specimen_number_too_short:"), specimenRaw))
        .when(core("collectionTimeUs").isNull, lit("collection_time_missing"))
        .when(oc.isNull || !oc.isin(allowed: _*),
          concat(lit("oc_not_allowed:"), coalesce(oc, lit("null"))))
    val resultTime = hl7TsUs(gf(g.getField("obrF"), 22))
    val results =
      if (!withResults) lit(null).cast("string") // placeholder, rebuilt below
      else {
        val raws = transform(g.getField("obxs"), (o, j) =>
          resultStruct(o.getField("f"), o.getField("pos"),
            obxNotes(g, j), resultTime, None, forceNumeric = false,
            epicOrderNumber = obrNum))
        winPathResults(raws, obrNum)
      }
    // the questions/comments aggregate feeds two fields — bind it once
    let(questionsAndComments(noteTexts(g.getField("ntes")), qSep, qPat)) { qc =>
      val base = Map(
        "sourceMessageId" -> subMsgId(mshFld(msh, 10), k),
        "sourceSystem" -> srcSys,
        "mrn" -> mrn,
        "visitNumber" -> visit,
        "codingSystem" -> lit(system),
        "epicOrderNumber" -> epic,
        "epicOrderDelete" -> epicDelete,
        "labSpecimenNumber" -> specimen,
        "batteryCodingSystem" -> lit(system),
        "battery" -> battery,
        "questions" -> qc.getField("questions"),
        "comments" -> nullIfEmpty(qc.getField("comments")),
        "error" -> err,
        "results" -> results)
      struct(orderFields.map(f =>
        overrides.getOrElse(f, base.getOrElse(f, core(f))).as(f)): _*)
    }
  }

  /** NTE lines owned by the group's OBX `j`: the group's NTEs between it
    * and the next OBX (LabResultBuilder.setComments via per-observation
    * notes).
    */
  private def obxNotes(g: Column, j: Column): Column =
    array_join(noteTexts(owned(g.getField("obxs"), j, g.getField("ntes"))), "\n")

  /** WinPath per-order result post-processing: ISOLATE typing + sub-id
    * merging. An OBX with test code ISOLATE becomes a LAB_ISOLATE result
    * (CE value → code/name, ST value → culture type when suffixed
    * `" culture yields:"` else quantity — WinPathResultBuilder.java:58-105);
    * results sharing a non-empty sub-id merge into one (first keeps its
    * identity, isolate fields coalesce, merged string value clears —
    * WinPathLabBuilder.mergeOrFilterResults:276-311).
    */
  private def winPathResults(raws: Column, epicObr: Column): Column = {
    val cultureSuffix = " culture yields:"
    // typed feeds noSub + withSub, and withSub is re-filtered per
    // sub-id — let-bind both so the whole result chain evaluates once
    val typed0 = transform(raws, r => {
      val isIso = r.getField("testCode") === "ISOLATE"
      val isCe = r.getField("valueType") === "CE"
      val sv = coalesce(r.getField("stringValue"), r.getField("rawValue"))
      val ceParts = split(r.getField("rawValue"), "\\^")
      val code = when(isCe, rtrim(get(ceParts, lit(0))))
      val name = when(isCe, get(ceParts, lit(1)))
      val stVal = when(!isCe, coalesce(sv, lit("")))
      val culture = when(!isCe && stVal.endsWith(cultureSuffix),
        regexp_replace(stVal, cultureSuffix, ""))
      val quantity = when(!isCe && !stVal.endsWith(cultureSuffix), stVal)
      rebuildResult(r,
        Map("mimeType" -> when(isIso, "LAB_ISOLATE").otherwise(r.getField("mimeType")),
          "stringValue" -> when(isIso && isCe, lit(null)).otherwise(sv)),
        when(isIso, isolateStruct(code, name, culture, quantity,
          lit(null), lit(null).cast(emptySens))))
    })
    let(typed0) { typed =>
      let(filter(typed, r => r.getField("subId").isNotNull)) { withSub =>
        val noSub = filter(typed, r => r.getField("subId").isNull)
        val subIds = array_distinct(transform(withSub, _.getField("subId")))
        val merged = transform(subIds, sid =>
          let(filter(withSub, r => r.getField("subId") === sid)) { grp =>
            def co(f: String) = aggregate(grp, lit(null).cast("string"),
              (acc, r) => coalesce(acc, r.getField("isolate").getField(f)))
            let(get(grp, lit(0))) { first =>
              rebuildResult(first,
                Map("stringValue" ->
                  when(size(grp) > 1, lit(null)).otherwise(first.getField("stringValue"))),
                isolateStruct(co("code"), co("name"), co("cultureType"), co("quantity"),
                  lit(null), lit(null).cast(emptySens)))
            }
          })
        array_sort(concat(noSub, merged),
          (a, b) => a.getField("ord") - b.getField("ord"))
      }
    }
  }

  /** ORU^R01 WinPath results: nested orders with isolate handling and
    * sensitivity re-parenting. Sensitivities arrive as separate orders
    * whose OBR-26 names the parent result; the reference re-parents them
    * serially (WinPathLabBuilder.mergeSensitivitiesIntoIsolate:244-274) —
    * here it is an array rewrite over the message's own orders (parents
    * and children share the message by construction, so this is still a
    * zero-shuffle projection). A child whose parent result is missing
    * errors (`sensitivity_parent_missing`), matching the reference's
    * Hl7InconsistencyException.
    */
  def parseWinPathResults(df: DataFrame, rawCol: String): DataFrame = {
    val raw = col(rawCol)
    val msh = segment(raw, "MSH")
    val (srcSys, mrn, visit) = patientCols(raw)
    val groups = orderGroups(raw, "OBR")

    def isChild(o: Column) = o.getField("parentSubId").isNotNull
    def childMatches(c: Column, r: Column) =
      c.getField("epicOrderNumber") <=> r.getField("epicOrderNumber") &&
        c.getField("parentObsId") === r.getField("testCode") &&
        c.getField("parentSubId") === r.getField("subId")

    // Staged as real columns: each stage references the previous one as
    // an attribute (a leaf), keeping the Catalyst tree linear. The ORU
    // constructor takes no questions (WinPathLabBuilder.java:123-147).
    val staged = df
      .withColumn("__orders", transform(groups, (g, k) =>
        orderStructFor(WinPath, g, k, msh, srcSys, mrn, visit,
          withResults = true,
          overrides = Map("questions" -> nullQuestions,
            "comments" -> lit(null).cast("string")))))
      .withColumn("__parents", filter(col("__orders"), o => !isChild(o)))
      .withColumn("__children", filter(col("__orders"), o => isChild(o)))
      .withColumn("__adopted", transform(col("__parents"), p =>
        rebuildOrder(p, Map("results" -> transform(p.getField("results"), r =>
          let(filter(col("__children"), c => childMatches(c, r))) { kids =>
            val sens = flatten(transform(kids, c =>
              transform(c.getField("results"), x => sensStruct(x))))
            val clin = get(kids, lit(0)).getField("clinicalInfo")
            val iso = r.getField("isolate")
            rebuildResult(r, Map.empty,
              when(size(kids) > 0, isolateStruct(
                iso.getField("code"), iso.getField("name"),
                iso.getField("cultureType"), iso.getField("quantity"),
                clin, sens)).otherwise(iso))
          })))))
      .withColumn("__orphans", transform(
        filter(col("__children"), c => !exists(col("__parents"), p =>
          exists(p.getField("results"), r => childMatches(c, r)))),
        c => rebuildOrder(c, Map("error" -> lit("sensitivity_parent_missing")))))
    explodeOrders(staged, concat(col("__adopted"), col("__orphans")))
  }

  // ------------------------------------------------------------------
  // CoPath results (ORU^R01): text reports + base64 PDFs
  // ------------------------------------------------------------------

  private val coPathMime =
    "Content-Type: text/plain; charset=US-ASCII;.+Content-transfer-encoding: base64"

  /** CoPath ORU^R01: OBX segments group by value type; TX/ST lines join
    * into one TEXT report, ED segments concatenate into a base64 payload
    * whose MIME preamble is stripped and decoded into `byteValue` (PDF)
    * (CoPathResultBuilder.java:79-148). A bare "MIME" value is ignored;
    * unknown types, multi-rep lines, sub-id drift inside a group, and
    * undecodable payloads error. Emits the order struct plus `byteValue`.
    */
  def parseCoPath(df: DataFrame, rawCol: String): DataFrame = {
    val raw = col(rawCol)
    val msh = segment(raw, "MSH")
    val (srcSys, mrn, visit) = patientCols(raw)
    val groups = orderGroups(raw, "OBR")
    val orders = transform(groups, (g, k) => {
      // ORU path passes no notes to the order (CoPathLabBuilder.java:124-127)
      val base = orderStructFor(CoPath, g, k, msh, srcSys, mrn, visit,
        withResults = false,
        overrides = Map("questions" -> nullQuestions,
          "comments" -> lit(null).cast("string")))
      val obr22 = hl7TsUs(gf(g.getField("obrF"), 22))
      val obxs = g.getField("obxs")
      val types = array_distinct(transform(obxs,
        o => gf(o.getField("f"), 2)))
      val results = transform(types, t =>
        let(filter(obxs, o => gf(o.getField("f"), 2) <=> t)) { grp =>
        let(array_join(transform(grp,
          o => coalesce(gf(o.getField("f"), 5), lit(""))), "")) { concatenated =>
        val first = get(grp, lit(0)).getField("f")
        val keyOf = (f: Column) => concat_ws("$",
          coalesce(cmp(gf(f, 3), 1), lit("")), coalesce(gf(f, 4), lit("")))
        val keyDrift = exists(grp, o =>
          keyOf(o.getField("f")) =!= keyOf(first))
        val multiRep = exists(grp,
          o => coalesce(gf(o.getField("f"), 5).contains("~"), lit(false)))
        val isText = t.isin("TX", "ST")
        val joined = array_join(transform(grp,
          o => coalesce(gf(o.getField("f"), 5), lit(""))),
          "\n")
        val isMimeOnly = concatenated === "MIME"
        val stripped = regexp_replace(concatenated, coPathMime, "")
        val b64Ok = stripped.rlike("^[A-Za-z0-9+/=]+$")
        struct(
          get(grp, lit(0)).getField("pos").as("ord"),
          cmp(gf(first, 3), 1).as("testCode"),
          gf(first, 4).as("subId"),
          t.as("valueType"),
          when(isText, "TEXT").when(t === "ED", "PDF").as("mimeType"),
          when(isText, joined).as("stringValue"),
          when(t === "ED" && !isMimeOnly &&
            concatenated.rlike(coPathMime) && b64Ok,
            unbase64(stripped)).as("byteValue"),
          obr22.as("resultTimeUs"),
          isMimeOnly.as("ignored"),
          when(!isText && t =!= "ED",
              concat(lit("copath_obx_type:"), coalesce(t, lit("null"))))
            .when(keyDrift, "copath_key_drift")
            .when(multiRep, "copath_multi_line")
            .when(t === "ED" && !isMimeOnly && !concatenated.rlike(coPathMime),
              "copath_encoding_unexpected")
            .when(t === "ED" && !isMimeOnly && !b64Ok, "copath_bad_base64")
            .as("error"))
      }})
      struct(base.as("order"),
        filter(results, r => !r.getField("ignored")).as("coPathResults"))
    })
    val carried = df.columns
      .filterNot(c => orderFields.contains(c) || c == "coPathResults" ||
        c.startsWith("__")).map(col)
    df.withColumn("__orders", orders)
      .select(col("*"), explode_outer(col("__orders")).as("__o"))
      .filter(col("__o").isNotNull)
      .select(orderFields.map(f =>
        col("__o").getField("order").getField(f).as(f)) ++
        Seq(col("__o").getField("coPathResults").as("coPathResults")) ++
        carried: _*)
  }

  // ------------------------------------------------------------------
  // point-of-care: ABL90 (ORU^R30) and BIO-CONNECT (ORU^R01)
  // ------------------------------------------------------------------

  /** ABL90 Flex Plus blood-gas results, ORU^R30: one order per message,
    * all order temporal fields from OBR-14 (specimen received), specimen
    * number from OBR-3.1, specimen type OBR-15.1 ("Proficiency Testing"
    * → ignored as a calibration message), every result numeric with
    * normal-flag N suppressed (AblLabBuilder.java:40-99,
    * AblResultBuilder.java:41-72).
    */
  def parseAbl90(df: DataFrame, rawCol: String): DataFrame = {
    val raw = col(rawCol)
    val msh = segment(raw, "MSH")
    val (srcSys, mrn, visit) = patientCols(raw)
    val groups = orderGroups(raw, "OBR")
    val orders = transform(groups, (g, k) => {
      val core = orderCore(g)
      val obrF = g.getField("obrF")
      val t = hl7TsUs(gf(obrF, 14))
      val results = transform(g.getField("obxs"), (o, j) =>
        resultStruct(o.getField("f"), o.getField("pos"), obxNotes(g, j),
          hl7TsUs(gf(o.getField("f"), 14)), Some("N"), forceNumeric = true,
          epicOrderNumber = lit(null).cast("string")))
      val base = Map(
        "sourceMessageId" -> mshFld(msh, 10),
        "sourceSystem" -> srcSys, "mrn" -> mrn, "visitNumber" -> visit,
        "codingSystem" -> lit(Abl90), "batteryCodingSystem" -> lit(Abl90),
        "epicOrderNumber" -> lit(null).cast("string"),
        "epicOrderDelete" -> lit(false),
        "labSpecimenNumber" -> cmp(gf(obrF, 3), 1),
        "orderTimeUs" -> t, "sampleReceivedTimeUs" -> t,
        "statusChangeTimeUs" -> t,
        "questions" -> lit(null).cast("array<struct<question:string,answer:string>>"),
        "comments" -> lit(null).cast("string"),
        "error" -> when(core("specimenType") === "Proficiency Testing",
          "testing_message"),
        "results" -> results)
      struct(orderFields.map(f => base.getOrElse(f, core(f)).as(f)): _*)
    })
    explodeOrders(df, orders)
  }

  /** BIO-CONNECT point-of-care, ORU^R01: exactly one OBX per message
    * (else error), temporal fields from OBR-14, specimen number from the
    * *placer* OBR-2.1, requested time deliberately unknown, numeric
    * results with normal-flag N (BioConnectLabBuilder.java:40-70).
    */
  def parseBioConnect(df: DataFrame, rawCol: String): DataFrame = {
    val raw = col(rawCol)
    val msh = segment(raw, "MSH")
    val (srcSys, mrn, visit) = patientCols(raw)
    val groups = orderGroups(raw, "OBR")
    val orders = transform(groups, (g, k) => {
      val core = orderCore(g)
      val obrF = g.getField("obrF")
      val t = hl7TsUs(gf(obrF, 14))
      val results = transform(g.getField("obxs"), (o, j) =>
        resultStruct(o.getField("f"), o.getField("pos"), obxNotes(g, j),
          hl7TsUs(gf(o.getField("f"), 14)), Some("N"), forceNumeric = true,
          epicOrderNumber = lit(null).cast("string")))
      val base = Map(
        "sourceMessageId" -> mshFld(msh, 10),
        "sourceSystem" -> srcSys, "mrn" -> mrn, "visitNumber" -> visit,
        "codingSystem" -> lit(BioConnect), "batteryCodingSystem" -> lit(BioConnect),
        "epicOrderNumber" -> lit(null).cast("string"),
        "epicOrderDelete" -> lit(false),
        "labSpecimenNumber" -> cmp(gf(obrF, 2), 1),
        "orderTimeUs" -> t, "sampleReceivedTimeUs" -> t,
        "statusChangeTimeUs" -> t,
        "requestedTimeUs" -> lit(null).cast("bigint"),
        "questions" -> lit(null).cast("array<struct<question:string,answer:string>>"),
        "comments" -> nullIfEmpty(array_join(noteTexts(g.getField("ntes")), "\n")),
        "error" -> when(size(g.getField("obxs")) =!= 1,
          "bioconnect_not_single_obx"),
        "results" -> results)
      struct(orderFields.map(f => base.getOrElse(f, core(f)).as(f)): _*)
    })
    explodeOrders(df, orders)
  }

  /** Bank Manager blood-bank profiles, ORU^R01: single order group per
    * message (else error), temporal fields from OBR-7 with status change
    * from OBR-22, specimen number OBR-3.1, lab department hardcoded to
    * the coding system, clinical information from the order's notes, CA
    * control id deletes the epic number (BankManagerLabBuilder.java:48-113).
    */
  def parseBankManager(df: DataFrame, rawCol: String): DataFrame = {
    val raw = col(rawCol)
    val msh = segment(raw, "MSH")
    val (srcSys, mrn, visit) = patientCols(raw)
    val groups = orderGroups(raw, "OBR")
    val nGroups = size(groups)
    val orders = transform(groups, (g, k) => {
      val core = orderCore(g)
      val obrF = g.getField("obrF")
      val t = hl7TsUs(gf(obrF, 7))
      val oc = core("orderControlId")
      val results = transform(g.getField("obxs"), (o, j) =>
        resultStruct(o.getField("f"), o.getField("pos"), obxNotes(g, j),
          hl7TsUs(gf(o.getField("f"), 14)), None, forceNumeric = false,
          epicOrderNumber = lit(null).cast("string")))
      val base = Map(
        "sourceMessageId" -> mshFld(msh, 10),
        "sourceSystem" -> srcSys, "mrn" -> mrn, "visitNumber" -> visit,
        "codingSystem" -> lit(BankManager), "batteryCodingSystem" -> lit(BankManager),
        "epicOrderNumber" -> when(!coalesce(oc === "CA", lit(false)),
          core("epicOrderNumberOrc")),
        "epicOrderDelete" -> coalesce(oc === "CA", lit(false)),
        "labSpecimenNumber" -> cmp(gf(obrF, 3), 1),
        "orderTimeUs" -> t, "sampleReceivedTimeUs" -> t,
        "statusChangeTimeUs" -> coalesce(hl7TsUs(gf(obrF, 22)), t),
        "labDepartment" -> lit(BankManager),
        "clinicalInfo" -> nullIfEmpty(
          array_join(noteTexts(g.getField("ntes")), "\n")),
        "questions" -> lit(null).cast("array<struct<question:string,answer:string>>"),
        "comments" -> lit(null).cast("string"),
        "error" -> when(nGroups > 1, "bank_manager_multiple_orders"),
        "results" -> results)
      struct(orderFields.map(f => base.getOrElse(f, core(f)).as(f)): _*)
    })
    explodeOrders(df, orders)
  }

  // ------------------------------------------------------------------
  // funnel → star
  // ------------------------------------------------------------------

  /** Convert any funnel order channel (WinPath / ABL90 / BIO-CONNECT /
    * Bank Manager) into the interchange lab-message shape
    * [[graft.operators.Labs.deriveStar]] consumes — the step between the
    * reference's HL7 builders and its core lab controllers. Orders with a
    * non-null `error` are excluded (route them to the dead letter first);
    * isolate results flatten to (isolateCode, sensitivities) the star's
    * isolate/sensitivity kernels key on. Schema-aligned with
    * [[Hl7Wire.wireToLabMessages]] so the two paths union into one fold.
    */
  def toLabMessages(orders: DataFrame): DataFrame = {
    // only the WinPath builder carries isolates; the point-of-care /
    // blood-bank builders' result structs have no `isolate` member —
    // their messages flatten with null isolate columns
    val hasIsolate = orders.schema("results").dataType match {
      case org.apache.spark.sql.types.ArrayType(
        s: org.apache.spark.sql.types.StructType, _) =>
        s.fieldNames.contains("isolate")
      case _ => false
    }
    def isoCode(r: Column): Column =
      if (hasIsolate) r.getField("isolate").getField("code")
      else lit(null).cast("string")
    def sensitivities(r: Column): Column =
      if (hasIsolate)
        transform(r.getField("isolate").getField("sensitivities"), s => struct(
          s.getField("testCode").as("agent"),
          s.getField("stringValue").as("value"),
          s.getField("resultTimeUs").as("resultTimeUs")))
      else lit(null).cast(
        "array<struct<agent:string,value:string,resultTimeUs:bigint>>")
    orders.filter(col("error").isNull).select(
      coalesce(col("epicOrderNumber"), col("labSpecimenNumber"))
        .as("epicOrderNumber"),
      col("labSpecimenNumber"),
      col("battery"),
      col("mrn"),
      col("visitNumber"),
      col("collectionTimeUs"),
      coalesce(col("statusChangeTimeUs"), col("collectionTimeUs"))
        .as("statusChangeTimeUs"),
      col("sourceMessageId"),
      transform(col("results"), r => struct(
        r.getField("testCode").as("testCode"),
        r.getField("mimeType").as("mimeType"),
        r.getField("numericValue").as("numericValue"),
        r.getField("stringValue").as("stringValue"),
        r.getField("units").as("units"),
        coalesce(r.getField("resultTimeUs"), col("statusChangeTimeUs"),
            col("collectionTimeUs"))
          .as("resultTimeUs"),
        isoCode(r).as("isolateCode"),
        sensitivities(r).as("sensitivities"))).as("results"))
  }

  /** Funnel: [[parseCoPath]] output → the unified lab-message shape
    * (schema-aligned with [[toLabMessages]] /
    * [[Hl7Wire.wireToLabMessages]] so CoPath folds into the SAME labs
    * star as every other source — the reference's CoPath builder feeding
    * the common lab controllers). TEXT sections carry their joined
    * report text; PDF payloads ride as base64 text (the star's results
    * column is uniform across sources; decode at read time). Result
    * entries with a parse error are excluded — route the order-level
    * `error` channel to the dead letter before this funnel.
    */
  def coPathToLabMessages(orders: DataFrame): DataFrame =
    orders.filter(col("error").isNull).select(
      coalesce(col("epicOrderNumber"), col("labSpecimenNumber"))
        .as("epicOrderNumber"),
      col("labSpecimenNumber"),
      col("battery"),
      col("mrn"),
      col("visitNumber"),
      col("collectionTimeUs"),
      coalesce(col("statusChangeTimeUs"), col("collectionTimeUs"))
        .as("statusChangeTimeUs"),
      col("sourceMessageId"),
      transform(
        filter(col("coPathResults"), r => r.getField("error").isNull),
        r => struct(
          r.getField("testCode").as("testCode"),
          r.getField("mimeType").as("mimeType"),
          lit(null).cast("double").as("numericValue"),
          coalesce(r.getField("stringValue"),
            base64(r.getField("byteValue"))).as("stringValue"),
          lit(null).cast("string").as("units"),
          coalesce(r.getField("resultTimeUs"), col("statusChangeTimeUs"),
            col("collectionTimeUs"))
            .as("resultTimeUs"),
          lit(null).cast("string").as("isolateCode"),
          lit(null).cast(
            "array<struct<agent:string,value:string,resultTimeUs:bigint>>")
            .as("sensitivities"))).as("results"))

  /** Funnel: [[parseImage]] output → the unified lab-message shape (the
    * PACS report sections become TEXT results in the same labs star).
    * Sections flagged `image_non_text_section` are excluded.
    */
  def imageToLabMessages(orders: DataFrame): DataFrame =
    orders.filter(col("error").isNull).select(
      coalesce(col("epicOrderNumber"), col("labSpecimenNumber"))
        .as("epicOrderNumber"),
      col("labSpecimenNumber"),
      col("battery"),
      col("mrn"),
      col("visitNumber"),
      col("collectionTimeUs"),
      coalesce(col("statusChangeTimeUs"), col("collectionTimeUs"))
        .as("statusChangeTimeUs"),
      col("sourceMessageId"),
      transform(
        filter(col("imageResults"), r => r.getField("error").isNull),
        r => struct(
          r.getField("testCode").as("testCode"),
          r.getField("mimeType").as("mimeType"),
          lit(null).cast("double").as("numericValue"),
          r.getField("stringValue").as("stringValue"),
          lit(null).cast("string").as("units"),
          coalesce(r.getField("resultTimeUs"), col("statusChangeTimeUs"),
            col("collectionTimeUs"))
            .as("resultTimeUs"),
          lit(null).cast("string").as("isolateCode"),
          lit(null).cast(
            "array<struct<agent:string,value:string,resultTimeUs:bigint>>")
            .as("sensitivities"))).as("results"))

  // ------------------------------------------------------------------
  // PACS imaging reports (ORU^R01)
  // ------------------------------------------------------------------

  private val imgTextIds = Map("ADT" -> "ADDENDA", "GDT" -> "NARRATIVE",
    "IMP" -> "IMPRESSION", "SIG" -> "SIGNATURE")

  /** PACS imaging reports, ORU^R01: text OBX segments (&ADT/&GDT/&IMP)
    * group into ADDENDA / NARRATIVE / IMPRESSION report sections joined
    * by newlines; once a narrative line reads exactly "Signed by:" it and
    * everything after it becomes the SIGNATURE section; any other OBX id
    * is a standalone result. Epic order number from ORC-2 unless it just
    * repeats the accession number; questions use `=`
    * (ImageLabBuilder.java:43-177).
    */
  def parseImage(df: DataFrame, rawCol: String): DataFrame = {
    val raw = col(rawCol)
    val msh = segment(raw, "MSH")
    val (srcSys, mrn, visit) = patientCols(raw)
    val groups = orderGroups(raw, "OBR")
    val orders = transform(groups, (g, k) => {
      val core = orderCore(g)
      val obxs = g.getField("obxs")
      val obr22 = hl7TsUs(gf(g.getField("obrF"), 22))
      val idOf = (o: Column) => cmp(gf(o.getField("f"), 3), 1)
      val valOf = (o: Column) => coalesce(gf(o.getField("f"), 5), lit(""))
      // position of the "Signed by:" narrative line, if any — a per-group
      // scalar referenced per OBX, so bind it once
      val sigStarts = filter(obxs,
        o => idOf(o) === "GDT" && valOf(o) === "Signed by:")
      let(coalesce(get(sigStarts, lit(0)).getField("pos"),
        size(segments(raw)))) { sigPos =>
      val mappedId = (o: Column) =>
        when(idOf(o) === "GDT" && o.getField("pos") >= sigPos, "SIG")
          .otherwise(idOf(o))
      val textIds = filter(
        transform(obxs, o => mappedId(o)),
        i => i.isin(imgTextIds.keys.toSeq: _*))
      val sections = transform(array_distinct(textIds), id =>
        let(filter(obxs, o => mappedId(o) === id)) { grp =>
        val badType = exists(grp,
          o => !gf(o.getField("f"), 2).isin("TX", "ST"))
        struct(
          get(grp, lit(0)).getField("pos").as("ord"),
          imgTextIds.foldLeft(lit(null).cast("string")) { case (acc, (k2, v)) =>
            when(id === k2, v).otherwise(acc)
          }.as("testCode"),
          lit("TEXT").as("mimeType"),
          array_join(transform(grp, valOf), "\n").as("stringValue"),
          obr22.as("resultTimeUs"),
          when(badType, "image_non_text_section").as("error"))
      })
      val others = transform(
        filter(obxs, o => !mappedId(o).isin(imgTextIds.keys.toSeq: _*)),
        o => struct(
          o.getField("pos").as("ord"),
          idOf(o).as("testCode"),
          lit("TEXT").as("mimeType"),
          valOf(o).as("stringValue"),
          obr22.as("resultTimeUs"),
          lit(null).cast("string").as("error")))
      val imageResults = array_sort(concat(sections, others),
        (a, b) => a.getField("ord") - b.getField("ord"))
      val oc = core("orderControlId")
      val specimenRaw = coalesce(core("orcFiller"), core("orcPlacerGroup"), lit(""))
      val orcNum = core("epicOrderNumberOrc")
      val qc = questionsAndComments(noteTexts(g.getField("ntes")), "=", "=")
      val base = Map(
        "sourceMessageId" -> subMsgId(mshFld(msh, 10), k),
        "sourceSystem" -> srcSys, "mrn" -> mrn, "visitNumber" -> visit,
        "codingSystem" -> lit(Pacs), "batteryCodingSystem" -> lit(Pacs),
        "epicOrderNumber" -> when(orcNum =!= specimenRaw, orcNum),
        "epicOrderDelete" -> lit(false),
        "labSpecimenNumber" -> nullIfEmpty(specimenRaw),
        "questions" -> qc.getField("questions"),
        "comments" -> nullIfEmpty(qc.getField("comments")),
        "error" -> when(oc.isNull || oc =!= "RE",
          concat(lit("oc_not_allowed:"), coalesce(oc, lit("null")))),
        "results" -> lit(null).cast("string"))
      struct(base.map { case (f, c) => c.as(f) }.toSeq ++
        orderFields.filterNot(base.contains).filterNot(_ == "results")
          .map(f => core(f).as(f)) :+ imageResults.as("imageResults"): _*)
      }
    })
    val fields = orderFields.filterNot(_ == "results") :+ "imageResults"
    val carried = df.columns
      .filterNot(c => fields.contains(c) || c.startsWith("__")).map(col)
    df.withColumn("__orders", orders)
      .select(col("*"), explode_outer(col("__orders")).as("__o"))
      .filter(col("__o").isNotNull)
      .select(fields.map(f => col("__o").getField(f).as(f)) ++ carried: _*)
  }
}
