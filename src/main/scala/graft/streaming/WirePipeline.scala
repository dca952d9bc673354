package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.operators.{IdentityMerge, LocationVisits, PendingMovements}
import graft.sources.{Hl7Wire, LabFunnel}

/** The full ingestion pipeline in one entry point — the Spark analog of
  * the reference's hl7-reader + core App pair: a raw HL7 stream is
  * routed by MSH-9 (S2), family-guarded (S3/S4 nack), funneled into each
  * family's interchange shape, and folded into that family's bitemporal
  * star state ([[StarPipeline]] bucketed fold) — every micro-batch, all
  * families, one query.
  *
  * State layout under `stateRoot`:
  *
  *   adt/ labs/ flowsheets/ conditions/ consults/   → StarPipeline dirs
  *   dead/router/batch=N   → unroutable / unhandled-type frames
  *   dead/<family>/batch=N → family-guard rejects (missing key/time,
  *                            unimplemented ADT trigger; a lab
  *                            builder's error under labs_<system>)
  *
  * Dead-letter writes are per-batch overwrites — idempotent on replay,
  * like the folds themselves. Scale shape: one scan of the batch fans
  * into narrow parse branches; each family fold touches only the state
  * buckets its keys hash into.
  */
object WirePipeline {

  /** Per-family kernel configs (natural key, event time, tie, payload). */
  private def cfg(stateRoot: String, family: String, key: Seq[String],
                  vf: String, payload: Seq[String]) =
    StarPipeline.Config(s"$stateRoot/$family", key, vf, "sourceMessageId",
      payload, nBuckets = 8)

  /** Was this state root folded in bitemporal mode? Decided from the
    * persisted manifests alone (any family star folded on the stored
    * axis, [[StarPipeline.isBitemporal]]), so replay/backfill entry
    * points land in the SAME table family as the original fold without
    * the caller having to remember the flag.
    */
  def isBitemporal(stateRoot: String): Boolean = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(stateRoot)
    if (!java.nio.file.Files.isDirectory(root)) return false
    val s = java.nio.file.Files.list(root)
    try s.iterator().asScala.exists(d => StarPipeline.isBitemporal(d.toString))
    finally s.close()
  }

  def start(raw: DataFrame, rawCol: String, stateRoot: String,
            checkpointDir: String,
            trigger: Trigger = Trigger.ProcessingTime("10 seconds"),
            bitemporal: Boolean = false,
            sink: StarSink = ManifestStarSink): StreamingQuery =
    FoldStream.start(raw, checkpointDir, trigger)(
      foldBatch(_, _, rawCol, stateRoot, bitemporal, sink))

  /** S4's second half: re-ingest dead-lettered frames after repair —
    * the Spark analog of the reference's nack-no-requeue + manual
    * re-publish workflow (a nacked message parks in the dead queue
    * until an operator fixes and re-publishes it). Every dead row still
    * carries the original raw frame (input columns ride along through
    * route() and the family guards), so the replay IS a foldBatch of
    * the repaired raw — one code path, not a parallel ingest.
    *
    * Idempotent convergence: folding is replay-safe (kernel message
    * dedup), so replaying a repaired frame lands the state exactly
    * where folding the corrected frame in the original batch would
    * have; frames the repair did NOT fix route straight back to the
    * dead letter under `newBatchId` and the state is untouched.
    *
    * @param source   which dead channel: "router" or a family name
    *                 (e.g. "adt", "labs")
    * @param batches  the dead batch ids to drain
    * @param repair   frame fixer applied before re-ingest (default:
    *                 replay as-is, e.g. after an allowlist/config fix)
    */
  def replayDeadLetters(spark: org.apache.spark.sql.SparkSession,
                        stateRoot: String, rawCol: String, source: String,
                        batches: Seq[Long], newBatchId: Long,
                        repair: DataFrame => DataFrame = identity,
                        sink: StarSink = ManifestStarSink): Unit = {
    val dirs = batches.map(b => s"$stateRoot/dead/$source/batch=$b")
      .filter(d => java.nio.file.Files.exists(java.nio.file.Paths.get(d)))
    if (dirs.isEmpty) return
    val dead = spark.read.parquet(dirs: _*)
    // replay into the SAME table family the stream folds into — a
    // bitemporal pipeline's repaired frames must appear in
    // readBelief/storedAsOf, not in a diverging valid-time-only set.
    // The manifest probe answers for the parquet store; a JDBC sink has
    // no manifests, so ask it whether any family's stored-axis table
    // exists (the adt star folds on every pipeline shape).
    val bt = isBitemporal(stateRoot) ||
      sink.read(spark, adtCfg(stateRoot), "bt_messages").isDefined
    foldBatch(repair(dead).select(col(rawCol)), newBatchId, rawCol,
      stateRoot, bitemporal = bt, sink = sink)
  }

  /** One micro-batch through the whole front end (also callable on a
    * static frame for backfill).
    *
    * @param bitemporal when true, every family folds through
    *   [[StarPipeline.foldBatchBitemporal]] with `storedFromUs` stamped
    *   as the batch id — the reference stamps storedFrom on EVERY table
    *   write (informdb/TemporalCore.java:29-32), and the batch id is
    *   its deterministic micro-batch analog (strictly increasing, one
    *   stamp per transaction boundary). "State as the DB knew it at
    *   batch S" then answers from the persisted star via
    *   [[StarPipeline.readBitemporal]] + `storedAsOf`.
    */
  def foldBatch(batch: DataFrame, batchId: Long, rawCol: String,
                stateRoot: String, bitemporal: Boolean = false,
                sink: StarSink = ManifestStarSink): Unit = {
    // every family channel is a separate action over this batch — cache
    // it once so ten funnels don't re-read the source ten times. Spread
    // a narrow batch over the executors first: the family parsers are
    // expression-heavy, and a single-partition micro-batch would run
    // EVERY channel's parse serially on one core. (The partition count
    // comes from the batch's physical plan: `batch.rdd` would post an
    // SQL execution of its own.)
    val np = batch.sparkSession.sparkContext.defaultParallelism
    val spread =
      if (batch.queryExecution.toRdd.getNumPartitions < np) batch.repartition(np)
      else batch
    val cached = spread.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try foldRouted(cached, batchId, rawCol, stateRoot, bitemporal, sink)
    finally cached.unpersist()
  }

  private def foldRouted(batch: DataFrame, batchId: Long, rawCol: String,
                         stateRoot: String, bitemporal: Boolean,
                         sink: StarSink): Unit = {
    val r = Hl7Wire.route(batch, rawCol)

    // Each parsed family channel feeds at least two actions (its guard's
    // dead-letter write + the star fold, sometimes a progress aggregate
    // too), and the parse is the expensive part of this pipeline —
    // materialize each channel ONCE and let every action read the cache.
    // Downstream frames are also PLANNED over the cached relation: over
    // the persisted channel itself, every guard, funnel and kernel step
    // would be re-analysed over the lambda-heavy parse beneath it, which
    // takes longer than the fold's Spark jobs. No frame built on
    // a `mat` leaf may escape this fold: after the `finally` below
    // unpersists the channels, running one would silently rebuild a
    // cache that nothing tracks.
    val mat = new StarPipeline.Pins
    // valid-time fold, or the stored-stamped bitemporal twin — through
    // the deployment's StarSink (parquet+manifest or RDBMS MERGE)
    def foldStar(msgs: DataFrame, cfgC: StarPipeline.Config): Unit =
      if (!bitemporal) sink.fold(msgs, batchId, cfgC)
      else sink.foldBitemporal(
        msgs.withColumn("storedFromUs", lit(batchId)), batchId, cfgC)
    // a family guard: rejects go to dead/<family>, the clean rows on
    def guard(parsed: DataFrame, family: String,
              rules: Seq[(String, Column)]): DataFrame = {
      val routed = DeadLetter.route(mat(parsed), rules)
      routed.dead.write.mode("overwrite")
        .parquet(s"$stateRoot/dead/$family/batch=$batchId")
      routed.clean
    }
    def guardAndFold(parsed: DataFrame, family: String,
                     rules: Seq[(String, Column)],
                     toMsgs: DataFrame => DataFrame,
                     c: StarPipeline.Config): DataFrame = {
      val clean = guard(parsed, family, rules)
      foldStar(toMsgs(clean), c)
      clean
    }
    // Every gate asks the router whether a channel holds rows: one
    // observed pass over the cached batch, built from the router's own
    // predicates, so an absent family costs ZERO jobs — not a
    // dead-letter write plus a bucket probe over an empty parse. (The
    // reference's consumer pays per message; our unit of work is the
    // family fold.)
    def ifHolds(channel: String)(body: => DataFrame): Seq[DataFrame] =
      if (r.holds(channel)) Seq(body) else Nil
    try {

    if (r.holds("dead")) r.dead.write.mode("overwrite")
      .parquet(s"$stateRoot/dead/router/batch=$batchId")

    // ADT proper is guarded by DeadLetter.adtRules (an unimplemented
    // trigger or a frame without MRN is a nack); the implied ADT the
    // reference derives from every ORU^R01/ORM^O01
    // (IdsOperations.buildAndAddAdtMessage, fromAdtStream=false) joins
    // the same person/visit fold but fails SILENTLY, as in the reference
    // — order messages legitimately arrive without patient context.
    // The payload carries the full visit-op surface (cancel targets,
    // discharge/pending/merge/swap/move identifiers) so the derived
    // views ([[visitIntervals]], [[mrnToLive]], [[pendingTransfers]])
    // re-derive the reference's location/identity state from the
    // PERSISTED message history alone.
    val implied = ifHolds("impliedAdt")(r.impliedAdt.filter(
      col("mrn").isNotNull && col("validFromUs").isNotNull))
    if (r.holds("adt") || implied.nonEmpty)
      guardAndFold(r.adt, "adt", DeadLetter.adtRules,
        clean => (clean +: implied).reduce(_.unionByName(_,
          allowMissingColumns = true))
          .select(Seq(col("mrn"), col("validFromUs"), col("sourceMessageId"),
            when(col("msgType").startsWith("Cancel"),
              col("eventOccurredDateTimeUs")).as("targetTimeUs"),
            col("dischargeDateTimeUs").as("dischargeTimeUs")) ++
            AdtPayload.filterNot(Seq("targetTimeUs", "dischargeTimeUs")
              .contains).map(col): _*),
        adtCfg(stateRoot))

    // Labs: the WinPath result stream plus the point-of-care /
    // blood-bank / histopathology / imaging funnel channels union into
    // ONE interchange shape and one fold — same state dir, one batch
    // id, no double-fold. Only channels PRESENT in this batch
    // contribute a branch (and a dead-letter write).
    def builderGuard(ch: DataFrame, name: String): DataFrame =
      guard(ch, s"labs_$name", Seq("builder_error" -> col("error").isNotNull))
    val labMsgs =
      ifHolds("labOrders")(Hl7Wire.wireToLabMessages(guard(r.labOrders,
        "labs", Seq("missing_order" -> col("fillerOrderNumber").isNull,
          "missing_time" -> coalesce(col("observationDateTimeUs"),
            col("requestedDateTimeUs")).isNull)))) ++
      ifHolds("ablLabs")(LabFunnel.toLabMessages(
        builderGuard(r.ablLabs, "abl"))) ++
      ifHolds("bioConnectLabs")(LabFunnel.toLabMessages(
        builderGuard(r.bioConnectLabs, "bioconnect"))) ++
      ifHolds("bankManagerLabs")(LabFunnel.toLabMessages(
        builderGuard(r.bankManagerLabs, "bankmanager"))) ++
      ifHolds("coPathLabs")(LabFunnel.coPathToLabMessages(
        builderGuard(r.coPathLabs, "copath"))) ++
      ifHolds("imagingLabs")(LabFunnel.imageToLabMessages(
        builderGuard(r.imagingLabs, "imaging")))
    if (labMsgs.nonEmpty) foldStar(
      labMsgs.reduce(_ unionByName _),
      cfg(stateRoot, "labs", Seq("battery", "labSpecimenNumber"),
        "statusChangeTimeUs", Seq("epicOrderNumber", "mrn", "results")))

    // ORM^O01 / ORR^O02 order messages carry no results but DO update
    // order state (the reference's WinPath/CoPath order builders:
    // number binding, status-change/sample-received times). They fold
    // into a status side-table keyed like the labs star, so the read
    // path joins them without risking a null-results overwrite of the
    // result-bearing fold.
    if (r.holds("labOrderAcks")) guardAndFold(r.labOrderAcks, "lab_status",
      Seq("builder_error" -> col("error").isNotNull,
        "missing_specimen" -> col("labSpecimenNumber").isNull,
        "missing_time" -> col("statusChangeTimeUs").isNull),
      _.select(col("battery"), col("labSpecimenNumber"),
        col("statusChangeTimeUs"), col("sourceMessageId"),
        col("orderControlId"), col("orderStatus"), col("epicOrderNumber"),
        col("orderTimeUs"), col("sampleReceivedTimeUs"),
        col("resultStatus")),
      cfg(stateRoot, "lab_status", Seq("battery", "labSpecimenNumber"),
        "statusChangeTimeUs", Seq("orderControlId", "orderStatus",
          "epicOrderNumber", "orderTimeUs", "sampleReceivedTimeUs",
          "resultStatus")))

    if (r.holds("flowsheets")) guardAndFold(r.flowsheets, "flowsheets",
      Seq("missing_visit" -> col("visitNumber").isNull,
        "missing_type" -> col("interfaceId").isNull,
        "missing_time" -> col("observationTimeUs").isNull),
      Hl7Wire.wireToFlowsheetMessages(_)
        .withColumnRenamed("msgId", "sourceMessageId"),
      cfg(stateRoot, "flowsheets",
        Seq("visitId", "observationTypeId", "observationTimeUs"),
        "updatedTimeUs", Seq("valueType", "numericValue", "stringValue",
          "dateValue", "unit", "comment")))

    // Conditions: problems (PPR) + allergies (A60 IAM) + infections
    // (A05 ZIF, behind the serial progress gate) are three funnels into
    // ONE patient_condition fold — the reference's three condition
    // factories meeting in PatientConditionController.
    val probMsgs = ifHolds("problems")(Hl7Wire.wireToConditionMessages(
      guard(r.problems, "conditions",
        Seq("missing_mrn" -> col("mrn").isNull,
          "missing_time" -> col("updatedTimeUs").isNull))))
    val allerMsgs = ifHolds("allergies")(Hl7Wire.wireToAllergyMessages(
      guard(r.allergies, "allergies",
        Seq("invalid_action" -> col("error").isNotNull,
          "missing_mrn" -> col("mrn").isNull,
          "missing_time" -> col("updatedTimeUs").isNull)))
      .drop("reactions"))

    // Infection progress survives restarts the same way the fold state
    // does — a tiny high-watermark file advanced per batch (the
    // reference holds it in the factory across a service run,
    // PatientInfectionFactory.infectionProgress). It is committed only
    // once the conditions fold holding the gated infections has
    // persisted: a watermark ahead of the star would make the replay of
    // a failed fold drop the batch's infections as already seen.
    val progressDir = s"$stateRoot/conditions"
    val (infMsgs, infProgress) = if (!r.holds("infections")) (Nil, None) else {
      val infStart = VersionedDir.read(progressDir, "_INF_PROGRESS")
        .fold(0L)(_.toLong)
      val gatedInf = mat(Hl7Wire.infectionGate(
        r.infections.filter(col("mrn").isNotNull),
        infStart, Seq("sourceMessageId", "infectionIdx")))
      val newProgress = gatedInf
        .agg(max(col("addedTimeUs"))).collect().headOption
        .flatMap(rw => Option(rw.get(0)).map(_.asInstanceOf[Long]))
      (Seq(Hl7Wire.wireToInfectionMessages(gatedInf)),
        newProgress.filter(_ > infStart))
    }

    // ConditionVisits link table: problems and allergies (NOT
    // infections) with a visit save an insert-once condition↔visit link
    // (ref core/.../PatientConditionController.java:337-348 —
    // savePatientConditionHospitalVisitLink inserts only when no row
    // exists, never updates, never deletes; links outlive a condition
    // tombstone). Fold shape: key = the whole link tuple, constant
    // payload — F6 run-coalescing makes every re-sighting a no-op, so
    // the live view IS the distinct pair set, permutation-invariant.
    val linkMsgs = probMsgs ++ allerMsgs
    if (linkMsgs.nonEmpty) foldStar(
      linkMsgs.reduce(_ unionByName _)
        .filter(col("visitNumber").isNotNull)
        .select(col("mrn"), col("conditionTypeId"), col("internalId"),
          col("visitNumber"), col("updatedTimeUs"),
          col("msgId").as("sourceMessageId"), lit(true).as("linked")),
      conditionVisitsCfg(stateRoot))

    val condMsgs = linkMsgs.map(_.drop("visitNumber")) ++ infMsgs
    if (condMsgs.nonEmpty) foldStar(
      condMsgs.reduce(_ unionByName _)
        .withColumnRenamed("msgId", "sourceMessageId"),
      conditionsCfg(stateRoot))
    infProgress.foreach(p =>
      VersionedDir.commit(progressDir, "_INF_PROGRESS", p.toString))

    val consultClean = ifHolds("consults")(
      guardAndFold(r.consults, "consults",
        Seq("missing_id" -> col("epicConsultId").isNull,
          "missing_time" -> col("statusChangeTimeUs").isNull),
        _.select(col("epicConsultId"), col("statusChangeTimeUs"),
          col("sourceMessageId"), col("mrn"), col("visitNumber"),
          col("consultationType"), col("cancelled"),
          col("closedDueToDischarge")),
        cfg(stateRoot, "consults", Seq("epicConsultId"),
          "statusChangeTimeUs", Seq("mrn", "visitNumber",
            "consultationType", "cancelled", "closedDueToDischarge"))))

    // Advance decisions (O20's second half): same ORM shape, own star
    // (ref core/.../AdvanceDecisionController.java).
    val advClean = ifHolds("advanceDecisions")(
      guardAndFold(r.advanceDecisions, "advance_decisions",
        Seq("missing_id" -> col("advanceDecisionNumber").isNull,
          "missing_time" -> col("statusChangeTimeUs").isNull),
        _.select(col("advanceDecisionNumber"), col("statusChangeTimeUs"),
          col("sourceMessageId"), col("mrn"), col("visitNumber"),
          col("careCode"), col("typeName"), col("requestedTimeUs"),
          col("cancelled"), col("closedDueToDischarge")),
        cfg(stateRoot, "advance_decisions", Seq("advanceDecisionNumber"),
          "statusChangeTimeUs", Seq("mrn", "visitNumber", "careCode",
            "typeName", "requestedTimeUs", "cancelled",
            "closedDueToDischarge"))))

    // O18: consult + advance-decision NTE questions → ONE
    // question/answer star keyed by (parent table, parent id, question
    // text) — the reference dedups question rows by text and keys
    // answers by (question, parent request), QuestionController; newest
    // answer wins under the kernel's F7.
    val qMsgs = consultClean.map(Hl7Wire.wireToQuestionMessages(_)) ++
      advClean.map(Hl7Wire.wireToQuestionMessages(_,
        parentTable = "ADVANCE_DECISION",
        parentIdCol = "advanceDecisionNumber"))
    if (qMsgs.nonEmpty) foldStar(
      qMsgs.reduce(_ unionByName _)
        .withColumnRenamed("msgId", "sourceMessageId"),
      cfg(stateRoot, "questions",
        Seq("parentTable", "parentId", "questionText"), "updatedTimeUs",
        Seq("answer")))
    } finally mat.release()
  }

  /** The visit-op payload persisted in the `adt` star — everything the
    * derived views need to re-derive location/identity/pending state
    * from the message history alone.
    */
  private val AdtPayload = Seq("msgType", "patientClass",
    "fullLocationString", "visitNumber", "previousMrn",
    "previousVisitNumber", "otherVisitNumber", "pendingDestination",
    "targetTimeUs", "dischargeTimeUs")

  private def adtCfg(stateRoot: String) =
    cfg(stateRoot, "adt", Seq("mrn"), "validFromUs", AdtPayload)

  private def conditionsCfg(stateRoot: String) =
    cfg(stateRoot, "conditions", Seq("mrn", "conditionTypeId", "internalId"),
      "updatedTimeUs", Seq("status", "severity", "onsetDate", "comment",
        "action"))

  private def conditionVisitsCfg(stateRoot: String) =
    cfg(stateRoot, "condition_visits",
      Seq("mrn", "conditionTypeId", "internalId", "visitNumber"),
      "updatedTimeUs", Seq("linked"))

  /** Derived read views over the persisted ADT star — the Spark-first
    * counterpart of the reference's imperatively-maintained
    * location_visit / mrn_to_live / planned_movement tables
    * (core/.../PatientLocationController, PersonController,
    * PendingAdtController): instead of mutating derived tables per
    * message under row locks, the canonical state is RE-DERIVED from
    * the deduped message history, so any arrival order converges to the
    * same result (the property the reference's permutation suite
    * checks). Materialize per batch or on demand; cost is one window
    * pass over the history (bounded per bucket after compaction).
    */
  final case class DerivedState(intervals: DataFrame, mrnToLive: DataFrame,
                                pendings: DataFrame, demographics: DataFrame)

  /** A family's full bitemporal version table (requires the pipeline to
    * have folded with `bitemporal = true`). Query with
    * [[graft.functions.GraftFunctions.storedAsOf]] for "state as the
    * pipeline knew it after batch S".
    */
  def readBelief(spark: org.apache.spark.sql.SparkSession,
                 stateRoot: String, family: String): Option[DataFrame] =
    StarPipeline.readBitemporal(spark, s"$stateRoot/$family")

  private def btHistory(spark: org.apache.spark.sql.SparkSession,
                        c: StarPipeline.Config,
                        sink: StarSink): Option[DataFrame] =
    sink.read(spark, c, "bt_messages")

  private def btLive(spark: org.apache.spark.sql.SparkSession,
                     c: StarPipeline.Config,
                     sink: StarSink): Option[DataFrame] =
    sink.read(spark, c, "bt_table").map(
      _.filter(col("stored_until_us").isNull && col("valid_until_us").isNull)
        .drop("valid_until_us", "stored_from_us", "stored_until_us"))

  def derived(spark: org.apache.spark.sql.SparkSession, stateRoot: String,
              pendingWindowUs: Long = 72L * 3600L * 1000000L,
              bitemporal: Boolean = false,
              sink: StarSink = ManifestStarSink)
      : Option[DerivedState] = {
    val c = adtCfg(stateRoot)
    val hist =
      if (bitemporal) btHistory(spark, c, sink)
      else sink.read(spark, c, "history")
    hist.map { h =>
      val ops = Hl7Wire.adtOps(h)

      // O6/O7/O8 + O9 swap + O10 move: interval inference over the
      // visit-bearing messages, then the rare cross-key ops
      val msgs = h.select(col("visitNumber").as("visitId"), col("msgType"),
          col("fullLocationString").as("location"), col("validFromUs"),
          col("sourceMessageId"), col("targetTimeUs"),
          col("dischargeTimeUs"))
        .filter(col("visitId").isNotNull)
      val swapped = LocationVisits.swapLocations(
        LocationVisits.deriveIntervals(msgs), ops.swaps)
      // A45: the visit's intervals move to the new encounter id
      val mv = broadcast(ops.visitMoves.select(
        col("visitId").as("mv_v"), col("newEncounter")))
      val moved = swapped.join(mv, col("visitId") === col("mv_v"), "left")
        .withColumn("visitId",
          coalesce(col("newEncounter"), col("visitId")))
        .drop("mv_v", "newEncounter")

      // O11: A29 cascades — drop intervals of visits wholly older than
      // their person's delete (F7: a visit with any newer activity
      // survives)
      val dels = broadcast(ops.personDeletes)
      // the delete message's own row is not visit activity — only OTHER
      // messages newer than the delete keep a visit alive (F7)
      val delVisits = h.filter(col("visitNumber").isNotNull &&
          col("msgType") =!= "DeletePersonInformation")
        .groupBy(col("mrn"), col("visitNumber"))
        .agg(max(col("validFromUs")).as("__max_vf"))
        .join(dels, Seq("mrn"))
        .filter(col("__max_vf") < col("delTimeUs"))
        .select(col("visitNumber").as("visitId"))
      val intervals = moved.join(broadcast(delVisits), Seq("visitId"),
        "left_anti")

      // O4/O5: pointer table over every MRN the history has seen,
      // merge-closed then identifier-changed (U1)
      val base = h.select(col("mrn"))
        .unionByName(ops.merges.select(col("absorbed").as("mrn")))
        .unionByName(ops.merges.select(col("survivor").as("mrn")))
        .filter(col("mrn").isNotNull).distinct()
        .select(col("mrn"), col("mrn").as("live_mrn"))
      val mrnMap = IdentityMerge.changeIdentifiers(
        IdentityMerge.applyMerges(base, ops.merges),
        ops.identifierChanges)

      // O13: pending-transfer lifecycle
      val pendings = PendingMovements.derive(ops.pendings,
        ops.pendingCancels, pendingWindowUs)

      // person demographics: live ADT state minus A29 deletes (O3/O11).
      // The A29 row is an op marker, not demographic state — a person
      // whose NEWEST version is the delete itself is deleted.
      val live = (if (bitemporal) btLive(spark, c, sink)
        else sink.read(spark, c, "live"))
        .getOrElse(h.limit(0))
        .filter(col("msgType") =!= "DeletePersonInformation")
      val demographics = graft.kernel.BitemporalKernel.deleteIfNewer(
        live, dels.withColumnRenamed("delTimeUs", "validFromUs"),
        Seq("mrn"), "validFromUs").live

      DerivedState(intervals, mrnMap, pendings, demographics)
    }
  }

  /** Current (non-deleted) conditions. A DE action folds as a TOMBSTONE
    * version — newest state wins under F7, an older re-add cannot
    * resurrect it, and the full version history stays queryable — the
    * audit-preserving batch analog of the reference's hard delete with
    * audit row (PatientConditionController delete path).
    */
  def liveConditions(spark: org.apache.spark.sql.SparkSession,
                     stateRoot: String,
                     bitemporal: Boolean = false,
                     sink: StarSink = ManifestStarSink): Option[DataFrame] = {
    val c = conditionsCfg(stateRoot)
    (if (bitemporal) btLive(spark, c, sink)
     else sink.read(spark, c, "live"))
      .map(_.filter(coalesce(col("action") =!= "DE", lit(true))))
  }

  /** The condition↔visit link set (ref ConditionVisits entity +
    * PatientConditionController.savePatientConditionHospitalVisitLink):
    * one row per distinct (mrn, conditionTypeId, internalId,
    * visitNumber) ever seen on a problem/allergy message with a visit.
    * Links are insert-once — a condition tombstone does NOT remove its
    * links (the reference never deletes from this table), so read it
    * unfiltered and join to [[liveConditions]] when only live
    * conditions' visits are wanted.
    */
  def conditionVisits(spark: org.apache.spark.sql.SparkSession,
                      stateRoot: String,
                      bitemporal: Boolean = false,
                      sink: StarSink = ManifestStarSink): Option[DataFrame] = {
    val c = conditionVisitsCfg(stateRoot)
    (if (bitemporal) btLive(spark, c, sink)
     else sink.read(spark, c, "live"))
      .map(_.select(col("mrn"), col("conditionTypeId"),
        col("internalId"), col("visitNumber")))
  }
}
