package graft.sources

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Hl7Fields
import graft.functions.GraftFunctions.let
import graft.functions.Hl7Timestamp.hl7TsUs

/** S2: HL7 v2 wire parsing — pipe/caret splitting of MSH/EVN/PID/PV1/
  * OBR/OBX segments plus MSH-9 type/trigger routing into the interchange
  * ADT shape (ref: hl7-reader/.../IdsOperations.java:351-477 for WHAT is
  * extracted; the HL7 v2 encoding rules themselves are public spec).
  *
  * Spark-first: the accessors ([[segment]], [[segments]],
  * [[segmentsOf]], [[fld]], [[mshFld]], [[cmp]], [[rep1]]) are native
  * Catalyst expressions ([[graft.functions.Hl7Fields]]), each one byte
  * scan of the frame with generated code — no regex split, no lambda, no
  * UDF, no driver loop. A family parser is a projection of such reads, so
  * it compiles into whole-stage codegen, a segment or field read twice in
  * one projection is scanned once (subexpression elimination), and a
  * raw-message DataFrame at any scale parses in one narrow map stage. The
  * positional builders (the lab orders, problems and flowsheets here, the
  * lab order groups of [[LabFunnel.orderGroups]]) share one ownership
  * rule, [[owned]], over the native segment array; it runs as array
  * higher-order functions, interpreted.
  *
  * Conventions:
  *  - segments split on CR (wire standard) or LF (file corpora);
  *  - field numbering is HL7's: for non-MSH segments, field i is the
  *    i-th pipe-delimited element after the segment id; MSH-1 IS the
  *    field separator, so MSH-i sits one split-index earlier;
  *  - only the first repetition (`~`) of a field is taken, matching the
  *    reference's single-identifier reads;
  *  - empty string → null (HL7 "not present"; tri-state semantics over
  *    parsed values live in [[graft.model.IValue.fromHl7]]).
  */
object Hl7Wire {

  /** Non-empty segments of a raw message. */
  def segments(raw: Column): Column = Hl7Fields.segments(raw, None)

  /** Segment `occurrence` (0-based; the first by default) among those
    * with the given id ("PID"), null if absent. */
  def segment(raw: Column, id: String, occurrence: Int = 0): Column =
    Hl7Fields.segment(raw, id, occurrence)

  /** All segments with the given id (OBX/OBR/NTE repeat). */
  def segmentsOf(raw: Column, id: String): Column =
    Hl7Fields.segments(raw, Some(id))

  /** The segments of a raw message as `(seg, pos)` structs, `pos` the
    * segment's 0-based index: the positions [[owned]] compares. */
  def positioned(raw: Column): Column =
    transform(segments(raw), (s, i) => struct(s.as("seg"), i.as("pos")))

  /** The [[positioned]] entries with segment id `id`, in message order. */
  def positionedOf(ps: Column, id: String): Column =
    filter(ps, x => substring(x.getField("seg"), 1, 3) === id)

  /** The wire format's ownership rule. HL7 v2 has no nesting markers: a
    * segment belongs to the last anchor above it (an OBX to its OBR, an
    * NTE to its PRB or OBX). Of `members`, the entries that anchor `k` of
    * `anchors` owns: those after it and before anchor `k + 1`, or before
    * the end of the message for the last anchor. `k = -1` names the
    * message head, the entries before the first anchor, which no anchor
    * owns. Both arrays hold structs with the segment's `pos` (the
    * [[positioned]] entries, or structs built from them) in message order.
    */
  def owned(anchors: Column, k: Column, members: Column): Column = {
    val lo = coalesce(get(anchors, k).getField("pos"), lit(-1))
    val hi = coalesce(get(anchors, k + 1).getField("pos"), lit(Int.MaxValue))
    filter(members, x => x.getField("pos") > lo && x.getField("pos") < hi)
  }

  /** `df` with one row per `anchorId` segment of the frame in `raw` (a
    * frame with none yields no row): `__idx`, the anchor's 0-based index
    * among its kind; `__anchor`, its text; `__owned`, the [[positioned]]
    * `memberId` segments it [[owned owns]]. The anchor and member arrays
    * are columns, so a frame evaluates each once, however many anchors
    * it has; `explode_outer` plus a null filter, not `explode`, keeps the
    * optimizer from inferring a `size()` filter that re-runs them.
    */
  private def byAnchor(df: DataFrame, raw: Column, anchorId: String,
                       memberId: String): DataFrame = {
    val ps = positioned(raw)
    df.withColumn("__anchors", positionedOf(ps, anchorId))
      .withColumn("__members", positionedOf(ps, memberId))
      .select(col("*"),
        posexplode_outer(col("__anchors")).as(Seq("__idx", "__a")))
      .filter(col("__a").isNotNull)
      .withColumn("__anchor", col("__a").getField("seg"))
      .withColumn("__owned",
        owned(col("__anchors"), col("__idx"), col("__members")))
      .drop("__anchors", "__members", "__a")
  }

  private[graft] def nullIfEmpty(c: Column): Column = when(c === "", lit(null)).otherwise(c)

  /** HL7 field i (1-based) of a non-MSH segment. */
  def fld(seg: Column, i: Int): Column = Hl7Fields.piece(seg, '|', i)

  /** HL7 field i of the MSH segment (MSH-1 is the separator itself). */
  def mshFld(seg: Column, i: Int): Column =
    if (i == 1) lit("|") else Hl7Fields.piece(seg, '|', i - 1)

  /** Component k (1-based, `^`-separated) of a field. */
  def cmp(f: Column, k: Int): Column = Hl7Fields.piece(f, '^', k - 1)

  /** First repetition (`~`-separated) of a field. */
  def rep1(f: Column): Column = Hl7Fields.piece(f, '~', 0)

  /** HL7 field i from a pre-split field array (element 0 is the segment
    * id, so field i sits at index i — same indexing as [[fld]]). */
  private[graft] def gf(arr: Column, i: Int): Column =
    nullIfEmpty(get(arr, lit(i)))

  /** Is MSH-9 type `t` / trigger `g` of type `tp`, with one of the
    * triggers `gs` (any trigger when none is given)? */
  private def msgIs(t: Column, g: Column, tp: String, gs: String*): Column =
    t === tp && (if (gs.isEmpty) lit(true) else g.isin(gs: _*))

  /** One mixed wire stream → per-family parsed channels, the analog of
    * the reference's central router (IdsOperations.messageFromHl7Message,
    * IdsOperations.java:413-477): MSH-9 type/trigger picks the message
    * family, then order/result messages fan further by coding system
    * ([[LabFunnel.codingSystem]] — the OrderAndResultService decision,
    * OrderAndResultService.java:49-216). Unroutable frames, unhandled
    * types, the deliberately-ignored blood-products feed and unknown
    * coding systems land in `dead` with a reason (S3/S4 nack semantics).
    * Each channel is a filter + its family parser over the same input —
    * at scale this is one scan fanned into narrow codegen'd branches, no
    * shuffle until the downstream folds.
    *
    *   ADT^*                      → adt
    *   ORU^R01  WIN_PATH          → labOrders (generic nested star shape)
    *   ORU^R01  CO_PATH           → coPathLabs
    *   ORU^R01  BIO_CONNECT       → bioConnectLabs
    *   ORU^R01  BANK_MANAGER      → bankManagerLabs
    *   ORU^R01  PACS              → imagingLabs
    *   ORU^R01  FLOWSHEET (Vitals)→ flowsheets
    *   ORU^R30  ABL90_FLEX_PLUS   → ablLabs
    *   ORM^O01  CONSULT_ORDER     → consults
    *   ORM^O01  ADVANCED_DECISION → advanceDecisions
    *   ORM^O01 / ORR^O02 WIN_PATH/CO_PATH → labOrderAcks (no results)
    *   PPR^PC1/PC2/PC3            → problems
    *   ORU^R01 / ORM^O01          → impliedAdt (person/visit context
    *                                the reference derives from every
    *                                order/result message)
    *   ADT^A05                    → adt (ImpliedAdt) + infections (ZIF)
    *   ADT^A60                    → allergies (IAM) only
    *   ADT with no trigger        → dead (unhandled_type:ADT^)
    *
    * Every frame lands in exactly one of the primary channels or in
    * `dead`; `impliedAdt` and `infections` re-read frames a primary
    * channel already takes.
    *
    * Every channel is built on its first read and then kept. Building a
    * channel means constructing its family parser over the tagged input,
    * and Spark analyses that plan on the spot — for the lambda-heavy lab,
    * condition and consult parsers this planning-time analysis costs far
    * more than parsing a small micro-batch. A consumer that reads two
    * channels (an ADT-only batch reads `adt`, and `dead` only when the
    * batch holds an unroutable frame) therefore never analyses the other
    * fourteen parsers, nor the tagging projection when it reads none.
    */
  sealed trait RoutedWire {
    def adt: DataFrame
    def labOrders: DataFrame
    def coPathLabs: DataFrame
    def ablLabs: DataFrame
    def bioConnectLabs: DataFrame
    def bankManagerLabs: DataFrame
    def imagingLabs: DataFrame
    def labOrderAcks: DataFrame
    def flowsheets: DataFrame
    def problems: DataFrame
    def consults: DataFrame
    def advanceDecisions: DataFrame
    def impliedAdt: DataFrame
    def infections: DataFrame
    def allergies: DataFrame
    def dead: DataFrame

    /** The channel a member above is named after (`"dead"` included),
      * read by name; an unknown name fails. */
    def apply(channel: String): DataFrame

    /** Does any frame route to `channel` (a member name above, `"dead"`
      * included)? The first call runs one pass over the batch — a `noop`
      * write observing the set of channels its frames take, secondary
      * ones and `dead` included; one job, no shuffle — and every call
      * reads its answer, so a consumer can
      * skip an absent family without analysing its parser. A frame
      * counts even where its parser yields no row (a PPR with no PRB
      * segment). An unknown name fails.
      */
    def holds(channel: String): Boolean
  }

  /** Route the raw frames in `df`'s `rawCol` into [[RoutedWire]]'s
    * channels. The call itself analyses no plan: each channel's family
    * parser is built, and analysed by Spark, on that channel's first
    * read, so an ADT-only fold pays for the ADT parser alone.
    *
    * @param adtSenderAllowlist when non-empty, ADT frames whose MSH-3
    *   sending application is not in the list are dead-lettered instead
    *   of parsed — the reference's `ALLOWED_ADT_SENDER` gate
    *   (IdsOperations.java:62,425-429, constant "EPIC").
    */
  def route(df: DataFrame, rawCol: String,
            adtSenderAllowlist: Seq[String] = Nil): RoutedWire = {
    val raw = col(rawCol)
    val msh = segment(raw, "MSH")
    val (t, g, ch) = (col("__t"), col("__g"), col("__ch"))
    def is(tp: String, gs: String*) = msgIs(t, g, tp, gs: _*)
    val (isOrm, isOrr) = (is("ORM", "O01"), is("ORR", "O02"))
    val sender = cmp(mshFld(msh, 3), 1)
    val senderOk =
      if (adtSenderAllowlist.isEmpty) lit(true)
      else coalesce(sender.isin(adtSenderAllowlist: _*), lit(false))

    // The routing table: (channel, message test over MSH-9 type `t` and
    // trigger `g`, coding systems, if the family has them). A frame's
    // primary channel is the first row whose test holds, and a frame no
    // row takes is dead: CASE WHEN reads a missing type, trigger or
    // coding system as "not this row", so every frame lands exactly once
    // by construction.
    def table(t: Column, g: Column) = {
      def is(tp: String, gs: String*) = msgIs(t, g, tp, gs: _*)
      val (r01, orm) = (is("ORU", "R01"), is("ORM", "O01"))
      Seq(
        // A60 fans to the allergies channel only (the reference's A60 ADT
        // build throws NotImplemented and is swallowed,
        // IdsOperations.java:493-503); an ADT frame without a trigger
        // reaches no builder.
        ("allergies", is("ADT", "A60") && senderOk, Nil),
        ("adt", is("ADT") && senderOk && g.isNotNull, Nil),
        ("problems", is("PPR", "PC1", "PC2", "PC3"), Nil),
        ("labOrders", r01, Seq(LabFunnel.WinPath)),
        ("coPathLabs", r01, Seq(LabFunnel.CoPath)),
        ("bioConnectLabs", r01, Seq(LabFunnel.BioConnect)),
        ("bankManagerLabs", r01, Seq(LabFunnel.BankManager)),
        ("imagingLabs", r01, Seq(LabFunnel.Pacs)),
        ("flowsheets", r01, Seq(LabFunnel.Flowsheet)),
        ("ablLabs", is("ORU", "R30"), Seq(LabFunnel.Abl90)),
        ("labOrderAcks", orm || is("ORR", "O02"),
          Seq(LabFunnel.WinPath, LabFunnel.CoPath)),
        ("consults", orm, Seq(LabFunnel.ConsultOrder)),
        ("advanceDecisions", orm, Seq(LabFunnel.AdvanceDecision)))
    }
    // The optimizer substitutes `__ch` into every filter over it, and
    // filters get no common subexpression elimination. MSH-9 reads are
    // native scans of the MSH segment, cheap to repeat per row; the
    // coding-system classifier (an OBR/MSH multi-field probe) is bound
    // once, and only in the order/result branch. The plain rows all
    // precede the coded rows in the table, so testing them first keeps
    // the first-match order, and the other families' frames never reach
    // the binding.
    val cs = LabFunnel.codingSystem(raw)
    val (ft, fg) = (cmp(mshFld(msh, 9), 1), cmp(mshFld(msh, 9), 2))
    val (plain, coded) = table(ft, fg).partition(_._3.isEmpty)
    def firstMatch(hits: Seq[(String, Column)]) =
      hits.tail.foldLeft(when(hits.head._2, hits.head._1)) {
        case (cw, (name, p)) => cw.when(p, name) }
    val channelOf = firstMatch(plain.map { case (name, msg, _) => name -> msg })
      .when(ft.isin("ORU", "ORM", "ORR"), let(cs) { c =>
        firstMatch(coded.map { case (name, msg, systems) =>
          name -> (c.isin(systems: _*) && msg) }) })
    lazy val tagged = df.withColumn("__t", ft).withColumn("__g", fg)
      .withColumn("__ch", channelOf)
    // A channel's filter: its rows' message test, a cheap necessary
    // condition that skips the CASE for other families' frames, then the
    // CASE itself. `<=>`, not `===`: a null-intolerant test would have the
    // optimizer add an `isnotnull(__ch)` filter, a second CASE per frame.
    def on(name: String) = table(t, g).collect {
      case (`name`, msg, _) => msg }.reduce(_ || _) && ch <=> name
    val handled = ch.isNotNull
    // Secondary channels re-read frames a primary channel already takes.
    val secondary = Map(
      // the reference also derives an implied ADT (person/visit context)
      // from every ORU^R01 and ORM^O01 (IdsOperations.java:431-460
      // buildAndAddAdtMessage with fromAdtStream=false) — parse failures
      // there are silent, here they're null-field rows the dead-letter
      // rules drop. Gated on `handled`: a frame the router dead-letters
      // (unknown/ignored coding system) discards its implied ADT too —
      // the reference's Hl7MessageIgnoredException throws the WHOLE
      // message away, already-built ADT included (LabFunnel
      // determineCodingSystem; OrderAndResultService.java:49-216).
      "impliedAdt" -> ((is("ORU", "R01") || isOrm) && handled),
      "infections" -> (g <=> "A05" && on("adt")))
    val channels = table(t, g).map(_._1).toSet ++ secondary.keySet + "dead"
    // Every unhandled frame is dead, labelled with its reason.
    val reason = when(t.isNull, "unroutable")
      .when(is("ADT") && !senderOk,
        concat(lit("skipped_sender:"), coalesce(sender, lit(""))))
      .when((is("ORU") || isOrm || isOrr) && cs === LabFunnel.BloodProducts,
        "ignored_coding_system:BLOOD_PRODUCTS")
      .when(is("ORU", "R01", "R30") || isOrm || isOrr,
        "unknown_coding_system")
      .otherwise(concat(lit("unhandled_type:"), t, lit("^"),
        coalesce(g, lit(""))))

    def branch(cond: Column, parse: (DataFrame, String) => DataFrame) =
      parse(tagged.filter(cond), rawCol).drop("__t", "__g", "__ch")
    def channel(name: String, parse: (DataFrame, String) => DataFrame) =
      branch(secondary.getOrElse(name, on(name)), parse)
    val acksFor = (system: String) =>
      branch(on("labOrderAcks") && cs === system,
        LabFunnel.parseOrderMessages(_, _, system))

    val parsers: Map[String, (DataFrame, String) => DataFrame] = Map(
      "adt" -> parseAdt, "labOrders" -> parseLabOrders,
      "coPathLabs" -> LabFunnel.parseCoPath, "ablLabs" -> LabFunnel.parseAbl90,
      "bioConnectLabs" -> LabFunnel.parseBioConnect,
      "bankManagerLabs" -> LabFunnel.parseBankManager,
      "imagingLabs" -> LabFunnel.parseImage, "flowsheets" -> parseFlowsheets,
      "problems" -> parseProblems, "consults" -> parseConsults,
      "advanceDecisions" -> parseAdvanceDecisions, "impliedAdt" -> parseAdt,
      "infections" -> parseInfections, "allergies" -> parseAllergies)

    new RoutedWire {
      private val built = scala.collection.mutable.Map.empty[String, DataFrame]
      def apply(name: String): DataFrame = {
        require(channels(name), s"no router channel $name")
        built.getOrElseUpdate(name, name match {
          case "labOrderAcks" =>
            acksFor(LabFunnel.WinPath).unionByName(acksFor(LabFunnel.CoPath))
          case "dead" => tagged.filter(!handled).withColumn("reason", reason)
            .drop("__t", "__g", "__ch")
          case _ => channel(name, parsers(name))
        })
      }
      def adt = this("adt")
      def labOrders = this("labOrders")
      def coPathLabs = this("coPathLabs")
      def ablLabs = this("ablLabs")
      def bioConnectLabs = this("bioConnectLabs")
      def bankManagerLabs = this("bankManagerLabs")
      def imagingLabs = this("imagingLabs")
      def labOrderAcks = this("labOrderAcks")
      def flowsheets = this("flowsheets")
      def problems = this("problems")
      def consults = this("consults")
      def advanceDecisions = this("advanceDecisions")
      def impliedAdt = this("impliedAdt")
      def infections = this("infections")
      def allergies = this("allergies")
      def dead = this("dead")

      // each frame's primary channel, then each secondary one it feeds
      // and "dead", observed over a `noop` write of the batch: one job,
      // no shuffle. collect_set skips the nulls.
      private lazy val present: Set[String] = {
        val tags = ch +: (secondary + ("dead" -> !handled)).toSeq.map {
          case (name, p) => when(p, name) }
        val sets = tags.zipWithIndex.map {
          case (tag, i) => collect_set(tag).as(s"__ch$i") }
        val seen = Observation()
        tagged.observe(seen, sets.head, sets.tail: _*)
          .write.format("noop").mode("overwrite").save()
        seen.get.valuesIterator
          .flatMap(_.asInstanceOf[scala.collection.Seq[String]]).toSet
      }
      def holds(channel: String): Boolean = {
        require(channels(channel), s"no router channel $channel")
        present(channel)
      }
    }
  }

  /** ADT trigger (MSH-9.2) → interchange operation — the FULL dispatch of
    * the reference's AdtMessageFactory.buildAdtMessageSubclass
    * (AdtMessageFactory.java:190-285): A01 admit; A02/A06/A07 transfer
    * (class changes are location-neutral transfers); A03 discharge; A04
    * register (unless EVN-4 is ENC_CREATE — not implemented); A05 and the
    * non-ADT R01/O01 are implied ADT; A08/A28/A31 update; A11/A12/A13
    * cancels; A14/A38 scheduling (not implemented); A15/A26 pending
    * transfer open/cancel; A17 swap locations; A29 delete person; A40
    * merge; A45 move visit; A47 change identifiers. Everything the
    * reference throws Hl7MessageNotImplementedException for keeps the
    * `Unhandled:` prefix so [[graft.streaming.DeadLetter.adtRules]]
    * routes it to the dead letter.
    */
  def triggerToOp(trigger: Column, eventReasonCode: Column): Column =
    when(trigger === "A01", "Admit")
      .when(trigger.isin("A02", "A06", "A07"), "Transfer")
      .when(trigger === "A03", "Discharge")
      .when(trigger === "A04",
        when(eventReasonCode === "ENC_CREATE", "Unhandled:ENC_CREATE")
          .otherwise("Register"))
      .when(trigger.isin("A05") || trigger.isin("R01", "O01"), "ImpliedAdt")
      .when(trigger.isin("A08", "A28", "A31"), "UpdateInfo")
      .when(trigger === "A11", "CancelAdmit")
      .when(trigger === "A12", "CancelTransfer")
      .when(trigger === "A13", "CancelDischarge")
      .when(trigger.isin("A14", "A38"),
        concat(lit("Unhandled:scheduling:"), trigger))
      .when(trigger === "A15", "PendingTransfer")
      .when(trigger === "A17", "SwapLocations")
      .when(trigger === "A26", "CancelPendingTransfer")
      .when(trigger === "A29", "DeletePersonInformation")
      .when(trigger === "A40", "MergePatient")
      .when(trigger === "A45", "MoveVisit")
      .when(trigger === "A47", "ChangeIdentifiers")
      .otherwise(concat(lit("Unhandled:"), trigger))

  def triggerToOp(trigger: Column): Column =
    triggerToOp(trigger, lit(null).cast("string"))

  /** Parse raw ADT messages into the interchange ADT shape
    * (the AdtMessage family of FIXTURES.md §1, plus `trigger` and the X1
    * `validFromUs` best-guess). Messages missing MSH parse to
    * null fields — route through [[graft.streaming.DeadLetter.adtRules]]
    * for the clean/dead split. Input columns ride along after the parsed
    * fields (name clashes resolve to the parsed field), so the dead
    * letter keeps its original payload and callers keep their context.
    */
  def parseAdt(df: DataFrame, rawCol: String): DataFrame = {
    val raw = col(rawCol)
    val msh = segment(raw, "MSH")
    val evn = segment(raw, "EVN")
    val pid = segment(raw, "PID")
    val pv1 = segment(raw, "PV1")
    // A17 swap carries a second PID/PV1 group (the other patient of the
    // swap, AdtMessageFactory.buildSwapLocations); A45 nests its MRG+PV1
    // in a MERGE_INFO group, which on the wire is just the segments.
    val pid2 = segment(raw, "PID", 1)
    val pv12 = segment(raw, "PV1", 1)
    val mrg = segment(raw, "MRG")

    val trigger = cmp(mshFld(msh, 9), 2)
    val recordedUs = coalesce(hl7TsUs(mshFld(msh, 7)), hl7TsUs(fld(evn, 2)))
    val occurredUs = hl7TsUs(fld(evn, 6))
    val name = fld(pid, 5)
    def nhsOf(pidSeg: Column): Column =
      Hl7Fields.idOfType(fld(pidSeg, 3), "NHSNMBR")

    val parsed = Seq(
      triggerToOp(trigger, fld(evn, 4)).as("msgType"),
      trigger.as("trigger"),
      mshFld(msh, 10).as("sourceMessageId"),
      mshFld(msh, 3).as("sourceSystem"),
      recordedUs.as("recordedDateTimeUs"),
      occurredUs.as("eventOccurredDateTimeUs"),
      cmp(rep1(fld(pid, 3)), 1).as("mrn"),
      // NHS number: the PID-3 repetition whose identifier-type (CX.5)
      // is NHSNMBR — scan repetitions, take the first match
      nhsOf(pid).as("nhsNumber"),
      cmp(fld(pv1, 19), 1).as("visitNumber"),
      fld(pv1, 3).as("fullLocationString"),
      fld(pv1, 6).as("previousLocation"),
      cmp(fld(pv1, 2), 1).as("patientClass"),
      patientClassName(cmp(fld(pv1, 2), 1)).as("patientClassName"),
      cmp(name, 2).as("patientGivenName"),
      cmp(name, 1).as("patientFamilyName"),
      // full PatientInfoHl7 demographics (AdtMessageFactory.java:119-151)
      cmp(name, 3).as("patientMiddleName"),
      cmp(name, 5).as("patientTitle"),
      cmp(fld(pid, 8), 1).as("patientSex"),
      hl7TsUs(fld(pid, 7)).as("patientBirthDateTimeUs"),
      date_format(timestamp_micros(hl7TsUs(fld(pid, 7))), "yyyy-MM-dd")
        .as("patientBirthDate"),
      cmp(rep1(fld(pid, 11)), 5).as("patientZipOrPostalCode"),
      cmp(fld(pid, 17), 1).as("patientReligion"),
      cmp(rep1(fld(pid, 22)), 1).as("ethnicGroupCode"),
      // death info can arrive in ANY message, not just A03; the
      // indicator is tri-state (Y→dead, N→alive, else unknown/IGNORE),
      // and the death time is kept even when the indicator denies it
      hl7TsUs(fld(pid, 29)).as("patientDeathDateTimeUs"),
      when(fld(pid, 30) === "Y", lit(false))
        .when(fld(pid, 30) === "N", lit(true))
        .as("patientIsAlive"),
      cmp(fld(segment(raw, "PV2"), 38), 1).as("modeOfArrival"),
      hl7TsUs(fld(pv1, 44)).as("admissionDateTimeUs"),
      hl7TsUs(fld(pv1, 45)).as("dischargeDateTimeUs"),
      // A03 extras (PV1Wrap.getDischargeDisposition / getDischargeLocation)
      fld(pv1, 36).as("dischargeDisposition"),
      fld(pv1, 37).as("dischargeLocation"),
      // A12: the cancelled transfer's location is PV1-6 (prior location)
      fld(pv1, 6).as("cancelledLocation"),
      // A15/A26: pending destination is PV1-42
      fld(pv1, 42).as("pendingDestination"),
      // A40/A45/A47: MRG-1 rep 1 = prior MRN, rep 2 = prior NHS number
      // (AdtMessageFactory.setPreviousIdentifiers); MRG-5 = prior visit
      cmp(rep1(fld(mrg, 1)), 1).as("previousMrn"),
      cmp(Hl7Fields.piece(fld(mrg, 1), '~', 1), 1).as("previousNhsNumber"),
      cmp(fld(mrg, 5), 1).as("previousVisitNumber"),
      // A17: the other patient/visit of the swap (second PID/PV1 group)
      cmp(rep1(fld(pid2, 3)), 1).as("otherMrn"),
      nhsOf(pid2).as("otherNhsNumber"),
      cmp(fld(pv12, 19), 1).as("otherVisitNumber"),
      fld(pv12, 3).as("otherFullLocationString"),
      coalesce(occurredUs, recordedUs).as("validFromUs"))
    val parsedNames = Set("msgType", "trigger", "sourceMessageId",
      "sourceSystem", "recordedDateTimeUs", "eventOccurredDateTimeUs",
      "mrn", "nhsNumber", "visitNumber", "fullLocationString",
      "previousLocation", "patientClass", "patientClassName",
      "patientGivenName", "patientFamilyName", "patientMiddleName",
      "patientTitle", "patientSex", "patientBirthDateTimeUs",
      "patientBirthDate", "patientZipOrPostalCode", "patientReligion",
      "ethnicGroupCode", "patientDeathDateTimeUs", "patientIsAlive",
      "modeOfArrival",
      "admissionDateTimeUs", "dischargeDateTimeUs",
      "dischargeDisposition", "dischargeLocation", "cancelledLocation",
      "pendingDestination", "previousMrn", "previousNhsNumber",
      "previousVisitNumber", "otherMrn", "otherNhsNumber",
      "otherVisitNumber", "otherFullLocationString", "validFromUs")
    val carried = df.columns.filterNot(parsedNames.contains).map(col)
    df.select(parsed ++ carried: _*)
  }

  /** PV1-2 code → the reference's PatientClass enum name
    * (interchange PatientClass: E/I/N/B/P/O + the two spelled-out
    * codes); unknown codes stay null — the reference throws, we
    * dead-letter on a rule over this null + non-null raw code.
    */
  def patientClassName(code: Column): Column =
    when(code === "E", "EMERGENCY")
      .when(code === "I", "INPATIENT")
      .when(code === "N", "NOT_APPLICABLE")
      .when(code === "B", "NEW_BORN")
      .when(code === "P", "PRE_ADMIT")
      .when(code === "O", "OUTPATIENT")
      .when(code === "DAY CASE", "DAY_CASE")
      .when(code === "SURG ADMIT", "SURGICAL_ADMISSION")

  /** Ethnic-group code → display name via a caller-supplied mapping
    * (the reference ships a CSV lookup, hl7/parser/EthnicGroup.java;
    * the mapping is site data, so it arrives as a parameter here).
    * Unmapped codes pass through unchanged, like the reference's
    * default branch.
    */
  def ethnicGroupName(code: Column, mapping: Map[String, String]): Column =
    if (mapping.isEmpty) code
    else {
      val m = map(mapping.toSeq.sortBy(_._1)
        .flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)
      coalesce(element_at(m, code), code)
    }

  /** Explode a message's OBX result segments into one row each:
    * (setId, valueType, observationId, subId, value, units, obsTimeUs,
    * resultStatus). Carries every column of `df` through, so callers
    * join results to their parsed order/ADT context for free.
    */
  def parseObx(df: DataFrame, rawCol: String): DataFrame = {
    val obx = col("__obx")
    // outer + null filter ≡ explode, but dodges the optimizer's
    // InferFiltersFromGenerate, whose inferred size() predicate
    // re-evaluates the generator child once more per row
    df.withColumn("__obx", explode_outer(segmentsOf(col(rawCol), "OBX")))
      .filter(col("__obx").isNotNull)
      .withColumn("obxSetId", fld(obx, 1).cast("int"))
      .withColumn("valueType", fld(obx, 2))
      .withColumn("observationId", cmp(fld(obx, 3), 1))
      .withColumn("observationSubId", fld(obx, 4))
      .withColumn("value", rep1(fld(obx, 5)))
      .withColumn("units", cmp(fld(obx, 6), 1))
      .withColumn("resultStatus", fld(obx, 11))
      .withColumn("obsTimeUs", hl7TsUs(fld(obx, 14)))
      .drop("__obx")
  }

  /** Explode OBR order segments: (orderNumber, testId, requestedUs,
    * obsUs, status). */
  def parseObr(df: DataFrame, rawCol: String): DataFrame = {
    val obr = col("__obr")
    df.withColumn("__obr", explode_outer(segmentsOf(col(rawCol), "OBR")))
      .filter(col("__obr").isNotNull)
      .withColumn("fillerOrderNumber", cmp(fld(obr, 3), 1))
      .withColumn("testId", cmp(fld(obr, 4), 1))
      .withColumn("requestedDateTimeUs", hl7TsUs(fld(obr, 6)))
      .withColumn("observationDateTimeUs", hl7TsUs(fld(obr, 7)))
      .withColumn("resultStatus", fld(obr, 25))
      .drop("__obr")
  }

  /** ORU^R01 → the NESTED interchange lab shape: one row per OBR order
    * carrying its OBX results as an array of structs — the counterpart
    * of the reference's lab builders, which group each order's results
    * into `LabOrderMsg.labResultMsgs`
    * (hl7-reader/.../labs/LabOrderBuilder + LabFunnel routing,
    * IdsOperations.java:442-477).
    *
    * Grouping is positional, as the wire format defines it: an OBX
    * belongs to the most recent OBR above it ([[owned]]). Implemented
    * entirely with array higher-order functions and posexplode (the
    * lambdas run interpreted), so the builder stays a narrow projection —
    * message count in, order count out, zero shuffles at any scale.
    *
    * Output per order: sourceMessageId/sourceSystem/mrn context,
    * orderIdx (0-based position of the OBR in its message),
    * fillerOrderNumber, testId, codingSystem, requested/observation
    * DTMs, resultStatus, and `results` = array of structs
    * (setId, valueType, observationId, subId, value, units, refRange,
    * abnormalFlag, status, obsTimeUs). Input columns ride along.
    */
  def parseLabOrders(df: DataFrame, rawCol: String): DataFrame = {
    val raw = col(rawCol)
    val msh = segment(raw, "MSH")
    val pid = segment(raw, "PID")
    val obrSeg = col("__anchor")
    // one split per OBX, not one per field — HOF lambdas get no CSE
    val results = transform(col("__owned"), o =>
      let(split(o.getField("seg"), "\\|")) { xf =>
        struct(
          gf(xf, 1).cast("int").as("setId"),
          gf(xf, 2).as("valueType"),
          cmp(gf(xf, 3), 1).as("observationId"),
          gf(xf, 4).as("subId"),
          rep1(gf(xf, 5)).as("value"),
          cmp(gf(xf, 6), 1).as("units"),
          gf(xf, 7).as("refRange"),
          gf(xf, 8).as("abnormalFlag"),
          gf(xf, 11).as("status"),
          hl7TsUs(gf(xf, 14)).as("obsTimeUs"))
      })

    val parsedNames = Set("sourceMessageId", "sourceSystem", "mrn",
      "orderIdx", "fillerOrderNumber", "testId", "codingSystem",
      "requestedDateTimeUs", "observationDateTimeUs", "resultStatus",
      "results")
    byAnchor(df, raw, "OBR", "OBX").select(
      Seq(
        mshFld(msh, 10).as("sourceMessageId"),
        mshFld(msh, 3).as("sourceSystem"),
        cmp(rep1(fld(pid, 3)), 1).as("mrn"),
        col("__idx").as("orderIdx"),
        cmp(fld(obrSeg, 3), 1).as("fillerOrderNumber"),
        cmp(fld(obrSeg, 4), 1).as("testId"),
        cmp(fld(obrSeg, 4), 3).as("codingSystem"),
        hl7TsUs(fld(obrSeg, 6)).as("requestedDateTimeUs"),
        hl7TsUs(fld(obrSeg, 7)).as("observationDateTimeUs"),
        fld(obrSeg, 25).as("resultStatus"),
        results.as("results")) ++
        df.columns.filterNot(parsedNames.contains).map(col): _*)
  }

  /** PPR^PC1/2/3 → patient-problem rows, one per PRB segment (a message
    * may carry a whole problem list). Field map follows the reference's
    * PatientProblemFactory (hl7-reader/.../conditons/
    * PatientProblemFactory.java:74-86): PRB-1 action, PRB-2 updated DTM,
    * PRB-3 code^name^codingSystem, PRB-4 problem instance id, PRB-7
    * added date, PRB-9 resolved date, PRB-13 confirmation status,
    * PRB-16 onset date. MSH/PID/PV1 context rides along; input columns
    * are carried through.
    */
  def parseProblems(df: DataFrame, rawCol: String): DataFrame = {
    val raw = col(rawCol)
    val msh = segment(raw, "MSH")
    val pid = segment(raw, "PID")
    val pv1 = segment(raw, "PV1")
    val prb = col("__anchor")
    // a problem's comment = all NTE comment repetitions under its PRB,
    // space-joined (PatientProblemFactory.java:44-50 concatenates every
    // NTE-3 repetition; we trim the factory's leading-space artifact)
    val myNtes = col("__owned")
    val commentParts = flatten(transform(myNtes,
      n => split(coalesce(fld(n.getField("seg"), 3), lit("")), "~")))
    val comment = when(size(myNtes) > 0,
      nullIfEmpty(trim(array_join(commentParts, " "))))

    byAnchor(df, raw, "PRB", "NTE")
      .withColumn("comment", comment)
      .withColumn("sourceMessageId", mshFld(msh, 10))
      .withColumn("sourceSystem", mshFld(msh, 3))
      .withColumn("mrn", cmp(rep1(fld(pid, 3)), 1))
      .withColumn("visitNumber", cmp(fld(pv1, 19), 1))
      .withColumn("action", fld(prb, 1))
      .withColumn("updatedTimeUs", hl7TsUs(fld(prb, 2)))
      .withColumn("conditionCode", cmp(fld(prb, 3), 1))
      .withColumn("conditionName", cmp(fld(prb, 3), 2))
      .withColumn("codingSystem", cmp(fld(prb, 3), 3))
      .withColumn("epicProblemId", cmp(fld(prb, 4), 1))
      .withColumn("addedTimeUs", hl7TsUs(fld(prb, 7)))
      .withColumn("resolvedTimeUs", hl7TsUs(fld(prb, 9)))
      .withColumn("status", cmp(fld(prb, 13), 1))
      .withColumn("onsetTimeUs", hl7TsUs(fld(prb, 16)))
      .drop("__idx", "__anchor", "__owned")
  }

  /** ADT^A05 → patient-infection rows, one per repetition of the custom
    * ZIF-1 field (ref PatientInfectionFactory.java:47-83; the ZIF segment
    * is one repeating `name^addedDTM^resolvedDTM` composite,
    * hl7/custom/v26/segment/ZIF.java + field/Infection.java). Context:
    * MSH-3 source system, MSH-10 source id, PID-3 MRN, EVN-2 updated DTM.
    * Rows with no added datetime carry it null — [[infectionGate]]
    * applies the reference's progress filter.
    */
  def parseInfections(df: DataFrame, rawCol: String): DataFrame = {
    val raw = col(rawCol)
    val msh = segment(raw, "MSH")
    val pid = segment(raw, "PID")
    val evn = segment(raw, "EVN")
    val zif = segment(raw, "ZIF")
    val inf = col("__inf")
    df.select(col("*"),
        posexplode_outer(split(fld(zif, 1), "~"))
          .as(Seq("infectionIdx", "__inf")))
      .filter(col("__inf").isNotNull)
      .withColumn("sourceMessageId", mshFld(msh, 10))
      .withColumn("sourceSystem", mshFld(msh, 3))
      .withColumn("mrn", cmp(rep1(fld(pid, 3)), 1))
      .withColumn("updatedTimeUs", hl7TsUs(fld(evn, 2)))
      .withColumn("conditionCode", cmp(inf, 1))
      .withColumn("addedTimeUs", hl7TsUs(cmp(inf, 2)))
      .withColumn("resolvedTimeUs", hl7TsUs(cmp(inf, 3)))
      .drop("__inf")
  }

  /** The reference's infection progress filter
    * (conditons/PatientStatusService.java:22-30 + the factory's serial
    * replay): processing messages in source order, an infection is kept
    * iff its added datetime is present and not before the progress
    * high-water mark, and every kept infection advances the mark.
    * Because a row is only rejected when its added time is BELOW the
    * current mark, the mark always equals the running maximum of the
    * added times seen so far — keep iff `added >= max(added) over
    * preceding rows` (in `orderCols` order), seeded with the
    * service-start instant.
    *
    * Scale shape — a global prefix max WITHOUT a single-partition
    * window: range-partition on the order key, compute the running max
    * within each partition, then carry each partition's total max into
    * its successors as a driver-computed prefix (≤ numPartitions
    * scalars, folded into a literal map). Every stage is distributed;
    * the only driver traffic is one row per partition.
    */
  def infectionGate(df: DataFrame, serviceStartUs: Long,
                    orderCols: Seq[String]): DataFrame = {
    // count-gate FIRST: a mixed batch whose A05s carry zero ZIF
    // infections must not pay the eager checkpoint below (isEmpty is a
    // limit-1 probe; the caller's batch cache makes it cheap)
    if (df.isEmpty) return df.filter(lit(false))
    // eager localCheckpoint: the carry probe and the final filter must
    // see the SAME partition assignment (range boundaries are sampled,
    // so a recompute could renumber partitions under the carry map)
    val parted = df.repartitionByRange(orderCols.map(col): _*)
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint()
    // per-partition total max → prefix-max carry-in per partition id
    val partMax = parted.groupBy(col("__pid"))
      .agg(max(col("addedTimeUs")).as("__max"))
      .collect()
      .map(r => r.getInt(0) -> Option(r.get(1)).map(_.asInstanceOf[Long]))
      .sortBy(_._1)
    if (partMax.isEmpty) return df.filter(lit(false))
    val carries = partMax.scanLeft(-1 -> serviceStartUs) {
      case ((_, acc), (pid, m)) => pid -> math.max(acc, m.getOrElse(Long.MinValue))
    }
    // carry for partition p = running max over partitions < p (seeded)
    val carryIn = carries.sliding(2).collect {
      case Array((_, prev), (pid, _)) => Seq(lit(pid), lit(prev))
    }.flatten.toSeq
    val wIn = Window.partitionBy(col("__pid"))
      .orderBy(orderCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    parted
      .withColumn("__carry",
        coalesce(element_at(map(carryIn: _*), col("__pid")),
          lit(serviceStartUs)))
      .withColumn("__progress",
        greatest(coalesce(max(col("addedTimeUs")).over(wIn),
          col("__carry")), col("__carry")))
      .filter(col("addedTimeUs").isNotNull &&
        col("addedTimeUs") >= col("__progress"))
      .drop("__pid", "__carry", "__progress")
  }

  /** ADT^A60 → patient-allergy rows, one per IAM segment (ref
    * PatientAllergyFactory.java:41-117): IAM-2.1 allergen type (subType),
    * IAM-3.2 allergen code/name (the reference reads the CWE *text*
    * component), IAM-4.1 severity, IAM-5 reactions (repeating), IAM-6.1
    * action (A=ADD, D=DELETE, U/X=UPDATE, anything else is an error —
    * surfaced in the `error` column for the dead-letter split, never a
    * throw), IAM-7.1 epic condition id, IAM-11 onset date, IAM-13
    * reported DTM (addedTimeUs), IAM-17.1 clinical status. Context:
    * MSH-3/MSH-10/PID-3/EVN-2 like infections.
    */
  def parseAllergies(df: DataFrame, rawCol: String): DataFrame = {
    val raw = col(rawCol)
    val msh = segment(raw, "MSH")
    val pid = segment(raw, "PID")
    val pv1 = segment(raw, "PV1")
    val evn = segment(raw, "EVN")
    val iam = col("__iam")
    val actionRaw = cmp(fld(iam, 6), 1)
    df.select(col("*"),
        posexplode_outer(segmentsOf(raw, "IAM"))
          .as(Seq("allergyIdx", "__iam")))
      .filter(col("__iam").isNotNull)
      .withColumn("sourceMessageId", mshFld(msh, 10))
      .withColumn("sourceSystem", mshFld(msh, 3))
      .withColumn("mrn", cmp(rep1(fld(pid, 3)), 1))
      .withColumn("visitNumber", cmp(fld(pv1, 19), 1))
      .withColumn("updatedTimeUs", hl7TsUs(fld(evn, 2)))
      .withColumn("subType", cmp(fld(iam, 2), 1))
      .withColumn("conditionCode", cmp(fld(iam, 3), 2))
      .withColumn("severity", cmp(fld(iam, 4), 1))
      .withColumn("reactions",
        filter(transform(split(fld(iam, 5), "~"), r => cmp(r, 1)),
          r => r.isNotNull))
      .withColumn("action",
        when(actionRaw === "A", "AD")
          .when(actionRaw === "D", "DE")
          .when(actionRaw.isin("U", "X"), "UP"))
      .withColumn("epicConditionId", cmp(fld(iam, 7), 1).cast("long"))
      .withColumn("onsetDate",
        date_format(timestamp_micros(hl7TsUs(fld(iam, 11))), "yyyy-MM-dd"))
      .withColumn("addedTimeUs", hl7TsUs(fld(iam, 13)))
      .withColumn("status", cmp(fld(iam, 17), 1))
      .withColumn("error",
        when(col("action").isNull,
          concat(lit("invalid_allergy_action:"),
            coalesce(actionRaw, lit("")))))
      .drop("__iam")
  }

  /** ORM^O01 consult orders → consult-request rows, one per message
    * (the reference rejects multi-order consults,
    * ConsultFactory.java:37-49): ORC-2 epic consult id, ORC-9 status
    * change DTM, OBR-36 scheduled DTM, OBR-44 consultation type; an
    * ORC-1 of OC is a cancellation — attributed to automated discharge
    * (closedDueToDischarge) when MSH-8's security code is DISCHAUTO
    * (ConsultFactory.java:67-82). NTE notes split on `->` into
    * question→answer entries; NTEs without the separator are comments.
    */
  def parseConsults(df: DataFrame, rawCol: String): DataFrame = {
    val raw = col(rawCol)
    val msh = segment(raw, "MSH")
    val pid = segment(raw, "PID")
    val pv1 = segment(raw, "PV1")
    val orc = segment(raw, "ORC")
    val obr = segment(raw, "OBR")
    val ntes = transform(segmentsOf(raw, "NTE"), s => fld(s, 3))
    val qa = filter(ntes, n => n.contains("->"))
    val security = mshFld(msh, 8)
    val cancelledOrc = fld(orc, 1) === "OC"
    df
      .withColumn("sourceMessageId", mshFld(msh, 10))
      .withColumn("sourceSystem", mshFld(msh, 3))
      .withColumn("mrn", cmp(rep1(fld(pid, 3)), 1))
      .withColumn("visitNumber", cmp(fld(pv1, 19), 1))
      .withColumn("epicConsultId", cmp(fld(orc, 2), 1).cast("long"))
      .withColumn("statusChangeTimeUs", hl7TsUs(fld(orc, 9)))
      .withColumn("scheduledTimeUs", hl7TsUs(fld(obr, 36)))
      .withColumn("consultationType", cmp(fld(obr, 44), 1))
      .withColumn("cancelled",
        coalesce(cancelledOrc && security =!= "DISCHAUTO", lit(false)))
      .withColumn("closedDueToDischarge",
        coalesce(cancelledOrc && security === "DISCHAUTO", lit(false)))
      .withColumn("questions", map_from_entries(transform(qa, n => struct(
        get(split(n, "->", 2), lit(0)).as("question"),
        get(split(n, "->", 2), lit(1)).as("answer")))))
      .withColumn("comments",
        filter(ntes, n => !coalesce(n.contains("->"), lit(false))))
  }

  /** ORU^R30/R01 vital-signs → flowsheet rows, one per OBX (ref
    * FlowsheetFactory.java:83-210): interface id OBX-3.1, value-type
    * dispatch on OBX-2 (NM → NUMERIC double, DT → DATE, else TEXT),
    * units OBX-6.1, observation time OBX-14, updated time MSH-7. An OBX
    * with an EMPTY value is an explicit tombstone — the reference maps
    * it to InterchangeValue.delete() (FlowsheetFactory.java:186,198,207)
    * — surfaced here as status=DELETE with null value columns. NTE
    * comment segments attach to the OBX directly above them (positional,
    * like the lab builder); multiple NTE lines join with newlines.
    * Sub-message id = MSH-10 + "$" + zero-padded OBX set id (X10).
    */
  def parseFlowsheets(df: DataFrame, rawCol: String): DataFrame = {
    val raw = col(rawCol)
    val msh = segment(raw, "MSH")
    val pid = segment(raw, "PID")
    val pv1 = segment(raw, "PV1")
    val x = col("__anchor")
    val comments = transform(col("__owned"), n => fld(n.getField("seg"), 3))
    val rawType = fld(x, 2)
    val value = rep1(fld(x, 5))
    val setId = fld(x, 1).cast("int")

    byAnchor(df, raw, "OBX", "NTE").select(
      Seq(
        concat(mshFld(msh, 10), lit("$"),
          lpad(setId.cast("string"), 2, "0")).as("sourceMessageId"),
        mshFld(msh, 3).as("sourceSystem"),
        cmp(rep1(fld(pid, 3)), 1).as("mrn"),
        cmp(fld(pv1, 19), 1).as("visitNumber"),
        cmp(fld(x, 3), 1).as("interfaceId"),
        when(rawType === "NM", "NUMERIC").when(rawType === "DT", "DATE")
          .otherwise("TEXT").as("valueType"),
        when(rawType === "NM", value.cast("double")).as("numericValue"),
        when(rawType =!= "NM" && rawType =!= "DT", trim(value))
          .as("stringValue"),
        when(rawType === "DT",
          date_format(timestamp_micros(hl7TsUs(value)), "yyyy-MM-dd"))
          .as("dateValue"),
        when(value.isNull, "DELETE").otherwise("SAVE").as("status"),
        cmp(fld(x, 6), 1).as("unit"),
        hl7TsUs(fld(x, 14)).as("observationTimeUs"),
        hl7TsUs(mshFld(msh, 7)).as("updatedTimeUs"),
        when(size(comments) > 0, array_join(comments, "\n")).as("comment")) ++
        df.columns.filterNot(Set("sourceMessageId", "sourceSystem", "mrn",
          "visitNumber", "interfaceId", "valueType", "numericValue",
          "stringValue", "dateValue", "status", "unit", "observationTimeUs",
          "updatedTimeUs", "comment").contains).map(col): _*)
  }

  /** ORM^O01 advance-decision orders — the reference's factory is a
    * near-twin of the consult one (AdvanceDecisionFactory.java:55-80):
    * same ORC/OBR/NTE layout, plus the decision type's display name at
    * OBR-4.5. Columns renamed to the advance-decision vocabulary.
    */
  def parseAdvanceDecisions(df: DataFrame, rawCol: String): DataFrame = {
    val obr = segment(col(rawCol), "OBR")
    parseConsults(df, rawCol)
      .withColumnRenamed("epicConsultId", "advanceDecisionNumber")
      .withColumnRenamed("consultationType", "careCode")
      .withColumnRenamed("scheduledTimeUs", "requestedTimeUs")
      .withColumn("typeName", cmp(fld(obr, 4), 5))
  }

  /** Funnel: [[parseConsults]] question→answer entries → one row per
    * question for the question / request_answer registries (O18: the
    * reference dedups questions by text and keys answers by
    * (question, parent request), QuestionController).
    */
  def wireToQuestionMessages(consults: DataFrame,
                             parentTable: String = "CONSULT_REQUEST",
                             parentIdCol: String = "epicConsultId"): DataFrame =
    consults.select(
        lit(parentTable).as("parentTable"),
        col(parentIdCol).cast("string").as("parentId"),
        col("statusChangeTimeUs").as("updatedTimeUs"),
        col("sourceMessageId").as("msgId"),
        explode(map_entries(col("questions"))).as("qa"))
      .select(col("parentTable"), col("parentId"), col("updatedTimeUs"),
        col("msgId"),
        col("qa.key").as("questionText"), col("qa.value").as("answer"))

  /** Funnel: [[parseFlowsheets]] output → the visit_observation registry
    * shape (key (visitId, observationTypeId, observationTimeUs); O14).
    * DELETE tombstones carry null value columns — the kernel's payload
    * fold nulls the stored values, the F6 diff check makes re-sent
    * tombstones no-ops.
    */
  def wireToFlowsheetMessages(flowsheets: DataFrame): DataFrame =
    flowsheets.select(
      col("visitNumber").as("visitId"),
      col("interfaceId").as("observationTypeId"),
      col("observationTimeUs"),
      col("updatedTimeUs"),
      col("sourceMessageId").as("msgId"),
      col("valueType"),
      col("numericValue"),
      col("stringValue"),
      col("dateValue"),
      col("unit"),
      col("comment"))

  /** Funnel: [[parseProblems]] output → the patient_condition registry
    * shape ([[graft.operators.EntityUpserts]] `patient_condition`:
    * key (mrn, conditionTypeId, internalId), event time updatedTimeUs).
    * The condition type's natural identity is its code+coding-system
    * pair (ref PatientConditionController.java:185-195); AD/UP both
    * upsert, DE rows are returned for the caller to feed the kernel's
    * delete-if-newer path (ConditionAction semantics).
    */
  def wireToConditionMessages(problems: DataFrame): DataFrame =
    problems.select(
      col("mrn"),
      concat_ws(":", col("codingSystem"), col("conditionCode"))
        .as("conditionTypeId"),
      col("epicProblemId").as("internalId"),
      col("updatedTimeUs"),
      col("sourceMessageId").as("msgId"),
      col("status"),
      lit(null).cast("string").as("severity"),
      date_format(timestamp_micros(col("onsetTimeUs")), "yyyy-MM-dd")
        .as("onsetDate"),
      col("comment"),
      col("action"),
      col("visitNumber"))

  /** Funnel: [[parseAllergies]] output → the patient_condition registry
    * shape (same contract as [[wireToConditionMessages]]; ref
    * PatientConditionFactory allergy path). Reactions ride along for the
    * caller's reaction table; rows with a non-null `error` should be
    * dead-lettered before this funnel.
    */
  def wireToAllergyMessages(allergies: DataFrame): DataFrame =
    allergies.filter(col("error").isNull).select(
      col("mrn"),
      concat(lit("ALLERGY:"), coalesce(col("conditionCode"), lit("")))
        .as("conditionTypeId"),
      col("epicConditionId").cast("string").as("internalId"),
      col("updatedTimeUs"),
      col("sourceMessageId").as("msgId"),
      col("status"),
      col("severity"),
      col("onsetDate"),
      lit(null).cast("string").as("comment"),
      col("action"),
      col("visitNumber"),
      col("reactions"))

  /** Funnel: [[parseInfections]] (post-[[infectionGate]]) → the
    * patient_condition registry shape. Infections carry no external id
    * or action — every surviving row is an upsert (ref
    * PatientConditionController infection path).
    */
  def wireToInfectionMessages(infections: DataFrame): DataFrame =
    infections.select(
      col("mrn"),
      concat(lit("INFECTION:"), coalesce(col("conditionCode"), lit("")))
        .as("conditionTypeId"),
      lit(null).cast("string").as("internalId"),
      col("updatedTimeUs"),
      col("sourceMessageId").as("msgId"),
      lit(null).cast("string").as("status"),
      lit(null).cast("string").as("severity"),
      date_format(timestamp_micros(col("addedTimeUs")), "yyyy-MM-dd")
        .as("onsetDate"),
      lit(null).cast("string").as("comment"),
      lit("AD").as("action"))

  /** Demux of a parsed ADT channel into the rare cross-key operations'
    * input shapes (SURVEY §2.4 O4/O5/O9/O10/O13 + O11): the reference
    * processes these serially under MrnLock; here each family is a
    * filtered projection feeding its batch operator —
    * [[graft.operators.PendingMovements.derive]],
    * [[graft.operators.LocationVisits]] swap,
    * [[graft.operators.IdentityMerge.applyMerges]]/changeIdentifiers,
    * [[graft.operators.EntityUpserts.moveVisits]],
    * [[graft.operators.CascadingDelete.person]].
    */
  final case class AdtOps(pendings: DataFrame, pendingCancels: DataFrame,
                          swaps: DataFrame, merges: DataFrame,
                          identifierChanges: DataFrame, visitMoves: DataFrame,
                          personDeletes: DataFrame)

  def adtOps(adt: DataFrame): AdtOps = {
    def opIs(name: String) = adt.filter(col("msgType") === name)
    AdtOps(
      // surrogate ids via xxhash64(sourceMessageId) — the repo-wide
      // deterministic-key policy (no sequence bottleneck)
      pendings = opIs("PendingTransfer").select(
        xxhash64(col("sourceMessageId")).as("pendingId"),
        col("visitNumber").as("visitId"),
        col("pendingDestination").as("location"),
        col("validFromUs").as("tsUs")),
      pendingCancels = opIs("CancelPendingTransfer").select(
        xxhash64(col("sourceMessageId")).as("cancelId"),
        col("visitNumber").as("visitId"),
        col("pendingDestination").as("location"),
        col("validFromUs").as("tsUs")),
      swaps = opIs("SwapLocations").select(
        col("visitNumber").as("visitA"),
        col("otherVisitNumber").as("visitB")),
      merges = opIs("MergePatient").select(
        col("previousMrn").as("absorbed"),
        col("mrn").as("survivor")),
      identifierChanges = opIs("ChangeIdentifiers").select(
        col("previousMrn").as("oldMrn"),
        col("mrn").as("newMrn")),
      visitMoves = opIs("MoveVisit").select(
        col("previousVisitNumber").as("visitId"),
        col("mrn").as("newMrn"),
        col("visitNumber").as("newEncounter"),
        col("validFromUs").as("moveTimeUs")),
      personDeletes = opIs("DeletePersonInformation").select(
        col("mrn"),
        col("validFromUs").as("delTimeUs")))
  }

  /** The funnel: [[parseLabOrders]] output → the interchange lab-message
    * shape [[graft.operators.Labs.deriveStar]] consumes (the reference's
    * LabFunnel step between the HL7 builders and the core controllers).
    * NM values dispatch to the NUMERIC mime type with a parsed double;
    * everything else stays TEXT — the reference's value-type dispatch
    * (core/.../LabResultController.java:122-137).
    */
  def wireToLabMessages(nested: DataFrame): DataFrame =
    nested.select(
      col("fillerOrderNumber").as("epicOrderNumber"),
      col("fillerOrderNumber").as("labSpecimenNumber"),
      col("testId").as("battery"),
      col("mrn"),
      lit(null).cast("string").as("visitNumber"),
      col("observationDateTimeUs").as("collectionTimeUs"),
      coalesce(col("observationDateTimeUs"), col("requestedDateTimeUs"))
        .as("statusChangeTimeUs"),
      col("sourceMessageId"),
      transform(col("results"), r => struct(
        r.getField("observationId").as("testCode"),
        when(r.getField("valueType") === "NM", "NUMERIC").otherwise("TEXT")
          .as("mimeType"),
        when(r.getField("valueType") === "NM",
          r.getField("value").cast("double")).as("numericValue"),
        when(r.getField("valueType") =!= "NM", r.getField("value"))
          .as("stringValue"),
        r.getField("units").as("units"),
        coalesce(r.getField("obsTimeUs"),
          col("observationDateTimeUs")).as("resultTimeUs"),
        lit(null).cast("string").as("isolateCode"),
        lit(null).cast(
          "array<struct<agent:string,value:string,resultTimeUs:bigint>>")
          .as("sensitivities"))).as("results"))
}
