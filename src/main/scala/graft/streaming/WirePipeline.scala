package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.CacheBridge
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.operators.{IdentityMerge, LocationVisits, PendingMovements}
import graft.sources.{Hl7Wire, LabFunnel}

/** The full ingestion pipeline in one entry point — the Spark analog of
  * the reference's hl7-reader + core App pair: a raw HL7 stream is
  * routed by MSH-9 (S2), family-guarded (S3/S4 nack), funneled into each
  * family's interchange shape, and folded into that family's bitemporal
  * star state ([[StarPipeline]] bucketed fold) — every micro-batch, all
  * families, one query. The families are data: [[Guards]] and [[Stars]]
  * below, which one loop folds.
  *
  * State layout under `stateRoot`:
  *
  *   adt/ labs/ lab_status/ flowsheets/ conditions/ condition_visits/
  *   consults/ advance_decisions/ questions/  → StarPipeline dirs
  *   conditions/_INF_PROGRESS → the infection gate's watermark
  *   dead/router/batch=N   → unroutable / unhandled-type frames
  *   dead/<name>/batch=N   → a family guard's rejects (missing key/time,
  *                            unimplemented ADT trigger, a builder's
  *                            error), under adt, labs, labs_abl,
  *                            labs_bioconnect, labs_bankmanager,
  *                            labs_copath, labs_imaging, lab_status,
  *                            flowsheets, conditions, allergies,
  *                            consults or advance_decisions
  *
  * Dead-letter writes are per-batch overwrites — idempotent on replay,
  * like the folds themselves; a batch with no unroutable frame, or of
  * which a guard rejects nothing, leaves no `batch=N` dir there. Scale
  * shape: one scan of the batch fans into narrow parse branches; each
  * family fold touches only the state buckets its keys hash into.
  */
object WirePipeline {

  /** A family guard: the router channel it checks, the dead-letter dir
    * under `dead/` its rejects land in, and its ordered rules. */
  private final case class Guard(channel: String, dead: String,
                                 rules: Seq[(String, Column)])

  private val Guards: Seq[Guard] = {
    val builderError = "builder_error" -> col("error").isNotNull
    def lab(channel: String, system: String) =
      Guard(channel, s"labs_$system", Seq(builderError))
    Seq(
      // an unimplemented trigger or a frame without MRN is a nack
      Guard("adt", "adt", DeadLetter.adtRules),
      Guard("labOrders", "labs", Seq(
        "missing_order" -> col("fillerOrderNumber").isNull,
        "missing_time" -> coalesce(col("observationDateTimeUs"),
          col("requestedDateTimeUs")).isNull)),
      lab("ablLabs", "abl"), lab("bioConnectLabs", "bioconnect"),
      lab("bankManagerLabs", "bankmanager"), lab("coPathLabs", "copath"),
      lab("imagingLabs", "imaging"),
      Guard("labOrderAcks", "lab_status", Seq(builderError,
        "missing_specimen" -> col("labSpecimenNumber").isNull,
        "missing_time" -> col("statusChangeTimeUs").isNull)),
      Guard("flowsheets", "flowsheets", Seq(
        "missing_visit" -> col("visitNumber").isNull,
        "missing_type" -> col("interfaceId").isNull,
        "missing_time" -> col("observationTimeUs").isNull)),
      Guard("problems", "conditions", Seq(
        "missing_mrn" -> col("mrn").isNull,
        "missing_time" -> col("updatedTimeUs").isNull)),
      Guard("allergies", "allergies", Seq(
        "invalid_action" -> col("error").isNotNull,
        "missing_mrn" -> col("mrn").isNull,
        "missing_time" -> col("updatedTimeUs").isNull)),
      Guard("consults", "consults", Seq(
        "missing_id" -> col("epicConsultId").isNull,
        "missing_time" -> col("statusChangeTimeUs").isNull)),
      Guard("advanceDecisions", "advance_decisions", Seq(
        "missing_id" -> col("advanceDecisionNumber").isNull,
        "missing_time" -> col("statusChangeTimeUs").isNull)))
  }

  /** A star's input: a router channel, and the projection of its clean
    * rows (guarded, if [[Guards]] has a row for it) into star messages.
    */
  private class Input(val channel: String, toMsgs: DataFrame => DataFrame) {
    /** This input's messages in one fold of the star at `starDir`, and
      * what to commit once that fold has persisted. */
    def messages(clean: DataFrame, starDir: String,
                 pin: DataFrame => DataFrame): (DataFrame, () => Unit) =
      (toMsgs(clean), () => ())
  }

  /** Infections pass a serial gate: one folds only if it was added after
    * every infection already seen. The high watermark survives restarts
    * as `_INF_PROGRESS` in the star's dir (the reference holds it in the
    * factory across a service run,
    * PatientInfectionFactory.infectionProgress), and is committed only
    * once the fold holding the gated infections has persisted: a
    * watermark ahead of the star would make the replay of a failed fold
    * drop the batch's infections as already seen. A row without MRN
    * drops silently.
    */
  private object Infections
      extends Input("infections", Hl7Wire.wireToInfectionMessages) {
    override def messages(parsed: DataFrame, starDir: String,
                          pin: DataFrame => DataFrame) = {
      val start = VersionedDir.read(starDir, "_INF_PROGRESS").fold(0L)(_.toLong)
      val gated = pin(Hl7Wire.infectionGate(
        parsed.filter(col("mrn").isNotNull), start,
        Seq("sourceMessageId", "infectionIdx")))
      val progress = gated.agg(max(col("addedTimeUs"))).collect().headOption
        .flatMap(rw => Option(rw.get(0)).map(_.asInstanceOf[Long]))
        .filter(_ > start)
      (super.messages(gated, starDir, pin)._1, () => progress.foreach(p =>
        VersionedDir.commit(starDir, "_INF_PROGRESS", p.toString)))
    }
  }

  /** A star: its dir under the state root, its kernel config (natural
    * key, event time and payload; the tie is `sourceMessageId`), and
    * its inputs, whose messages, cut to those columns, union into one
    * fold per batch. */
  private final case class Star(name: String, key: Seq[String],
                                validFrom: String, payload: Seq[String],
                                inputs: Input*) {
    def cfg(stateRoot: String) = StarPipeline.Config(s"$stateRoot/$name",
      key, validFrom, "sourceMessageId", payload, nBuckets = 8)
  }

  /** The visit-op payload persisted in the `adt` star — everything the
    * derived views need to re-derive location/identity/pending state
    * from the message history alone.
    */
  private val AdtPayload = Seq("msgType", "patientClass",
    "fullLocationString", "visitNumber", "previousMrn",
    "previousVisitNumber", "otherVisitNumber", "pendingDestination",
    "targetTimeUs", "dischargeTimeUs")

  private val Stars: Seq[Star] = {
    def in(channel: String)(toMsgs: DataFrame => DataFrame) =
      new Input(channel, toMsgs)
    val adtMsgs = (df: DataFrame) => df.withColumn("targetTimeUs", when(
        col("msgType").startsWith("Cancel"), col("eventOccurredDateTimeUs")))
      .withColumn("dischargeTimeUs", col("dischargeDateTimeUs"))
    val (problems, allergies) = (Hl7Wire.wireToConditionMessages _,
      Hl7Wire.wireToAllergyMessages _)
    // ConditionVisits link table: problems and allergies (NOT
    // infections) with a visit save an insert-once condition↔visit link
    // (ref core/.../PatientConditionController.java:337-348 —
    // savePatientConditionHospitalVisitLink inserts only when no row
    // exists, never updates, never deletes; links outlive a condition
    // tombstone). Fold shape: key = the whole link tuple, constant
    // payload — F6 run-coalescing makes every re-sighting a no-op, so
    // the live view IS the distinct pair set, permutation-invariant.
    val links = (df: DataFrame) =>
      df.filter(col("visitNumber").isNotNull).withColumn("linked", lit(true))
    Seq(
      // ADT proper is guarded; the implied ADT the reference derives
      // from every ORU^R01/ORM^O01 (IdsOperations.buildAndAddAdtMessage,
      // fromAdtStream=false) joins the same person/visit fold but fails
      // SILENTLY, as in the reference — order messages legitimately
      // arrive without patient context. The payload carries the full
      // visit-op surface (cancel targets, discharge/pending/merge/swap/
      // move identifiers) so the derived views ([[derived]]) re-derive
      // the reference's location/identity state from the PERSISTED
      // message history alone.
      Star("adt", Seq("mrn"), "validFromUs", AdtPayload,
        in("adt")(adtMsgs), in("impliedAdt")(df => adtMsgs(df.filter(
          col("mrn").isNotNull && col("validFromUs").isNotNull)))),
      // The WinPath result stream plus the point-of-care / blood-bank /
      // histopathology / imaging funnel channels: ONE interchange shape
      // and one fold.
      Star("labs", Seq("battery", "labSpecimenNumber"), "statusChangeTimeUs",
        Seq("epicOrderNumber", "mrn", "results"),
        in("labOrders")(Hl7Wire.wireToLabMessages),
        in("ablLabs")(LabFunnel.toLabMessages),
        in("bioConnectLabs")(LabFunnel.toLabMessages),
        in("bankManagerLabs")(LabFunnel.toLabMessages),
        in("coPathLabs")(LabFunnel.coPathToLabMessages),
        in("imagingLabs")(LabFunnel.imageToLabMessages)),
      // ORM^O01 / ORR^O02 order messages carry no results but DO update
      // order state (the reference's WinPath/CoPath order builders:
      // number binding, status-change/sample-received times): a status
      // side-table keyed like the labs star, so the read path joins them
      // without risking a null-results overwrite of the result fold.
      Star("lab_status", Seq("battery", "labSpecimenNumber"),
        "statusChangeTimeUs", Seq("orderControlId", "orderStatus",
          "epicOrderNumber", "orderTimeUs", "sampleReceivedTimeUs",
          "resultStatus"),
        in("labOrderAcks")(identity)),
      Star("flowsheets", Seq("visitId", "observationTypeId",
          "observationTimeUs"), "updatedTimeUs", Seq("valueType",
          "numericValue", "stringValue", "dateValue", "unit", "comment"),
        in("flowsheets")(Hl7Wire.wireToFlowsheetMessages)),
      // problems (PPR) + allergies (A60 IAM) + gated infections (A05 ZIF):
      // the reference's three condition factories meeting in
      // PatientConditionController
      Star("conditions", Seq("mrn", "conditionTypeId", "internalId"),
        "updatedTimeUs", Seq("status", "severity", "onsetDate", "comment",
          "action"),
        in("problems")(problems), in("allergies")(allergies), Infections),
      Star("condition_visits",
        Seq("mrn", "conditionTypeId", "internalId", "visitNumber"),
        "updatedTimeUs", Seq("linked"),
        in("problems")(problems andThen links),
        in("allergies")(allergies andThen links)),
      Star("consults", Seq("epicConsultId"), "statusChangeTimeUs",
        Seq("mrn", "visitNumber", "consultationType", "cancelled",
          "closedDueToDischarge"),
        in("consults")(identity)),
      // O20's second half: same ORM shape, own star
      // (ref core/.../AdvanceDecisionController.java)
      Star("advance_decisions", Seq("advanceDecisionNumber"),
        "statusChangeTimeUs", Seq("mrn", "visitNumber", "careCode",
          "typeName", "requestedTimeUs", "cancelled", "closedDueToDischarge"),
        in("advanceDecisions")(identity)),
      // O18: consult + advance-decision NTE questions → ONE
      // question/answer star keyed by (parent table, parent id, question
      // text) — the reference dedups question rows by text and keys
      // answers by (question, parent request), QuestionController; newest
      // answer wins under the kernel's F7.
      Star("questions", Seq("parentTable", "parentId", "questionText"),
        "updatedTimeUs", Seq("answer"),
        in("consults")(Hl7Wire.wireToQuestionMessages(_)),
        in("advanceDecisions")(Hl7Wire.wireToQuestionMessages(_,
          parentTable = "ADVANCE_DECISION",
          parentIdCol = "advanceDecisionNumber"))))
  }

  private def starCfg(star: String, stateRoot: String) =
    Stars.find(_.name == star).get.cfg(stateRoot)

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
    * @param source   which dead channel: "router" or a guard's dead-letter
    *                 name (e.g. "adt", "labs", "labs_bioconnect"); any
    *                 other name fails
    * @param batches  the dead batch ids to drain; a batch whose guard
    *                 rejected nothing has no dir and adds no frame
    * @param repair   frame fixer applied before re-ingest (default:
    *                 replay as-is, e.g. after an allowlist/config fix)
    */
  def replayDeadLetters(spark: org.apache.spark.sql.SparkSession,
                        stateRoot: String, rawCol: String, source: String,
                        batches: Seq[Long], newBatchId: Long,
                        repair: DataFrame => DataFrame = identity,
                        sink: StarSink = ManifestStarSink): Unit = {
    val sources = "router" +: Guards.map(_.dead).distinct
    require(sources.contains(source), s"no dead-letter source $source; " +
      s"known: ${sources.mkString(", ")}")
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
      sink.read(spark, starCfg("adt", stateRoot), "bt_messages").isDefined
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
    // Every family channel is a separate action over this batch, and
    // each parsed channel feeds its guard, one or more star folds and
    // sometimes a gate aggregate, while the parse is the expensive part
    // of this pipeline: the fold pins the batch, each guarded channel
    // and the gated infections ONCE, in one set of pins released at the
    // end. Downstream frames are PLANNED over the cached relations too:
    // over a persisted channel itself, every guard, funnel and kernel
    // step would be re-analysed over the lambda-heavy parse beneath it,
    // which takes longer than the fold's Spark jobs. No frame built on a
    // pinned leaf may escape the fold: after the release, running one
    // would silently rebuild a cache that nothing tracks.
    //
    // A narrow batch is spread over the executors first: the family
    // parsers are expression-heavy, and a single-partition micro-batch
    // would run EVERY channel's parse serially on one core. (The
    // partition count comes from the batch's physical plan: `batch.rdd`
    // would post an SQL execution of its own.)
    val np = batch.sparkSession.sparkContext.defaultParallelism
    val spread =
      if (batch.queryExecution.toRdd.getNumPartitions < np) batch.repartition(np)
      else batch
    val pins = new StarPipeline.Pins
    try foldRouted(pins(spread), batchId, rawCol, stateRoot, bitemporal,
      sink, pins)
    finally pins.release()
  }

  /** Route the batch, fold every star an input channel of which holds
    * rows, then write the router's and each guard's dead letters. */
  private def foldRouted(batch: DataFrame, batchId: Long, rawCol: String,
                         stateRoot: String, bitemporal: Boolean,
                         sink: StarSink, pin: StarPipeline.Pins): Unit = {
    // Every gate asks the router whether a channel holds rows: one
    // observed pass over the cached batch, built from the router's own
    // predicates, so an absent family costs ZERO jobs — not a guard, a
    // parse and a bucket probe over an empty channel. (The reference's
    // consumer pays per message; our unit of work is the family fold.)
    val r = Hl7Wire.route(batch, rawCol)

    // A channel's clean rows, guarded and pinned on first use and shared
    // by every star that reads it. The pinned channel carries an
    // observation of its reject count, which the first star fold's probe
    // collects as it fills the cache.
    val guarded = scala.collection.mutable.LinkedHashMap
      .empty[Guard, (DataFrame, DataFrame)]
    val cleanOf = scala.collection.mutable.Map.empty[String, DataFrame]
    val clean = (channel: String) => cleanOf.getOrElseUpdate(channel,
      Guards.find(_.channel == channel).fold(r(channel)) { g =>
        val rejected = g.rules.map(_._2).reduce(_ || _)
        val pinned = pin(r(channel).observe(g.dead, count_if(rejected).as("n")))
        val routed = DeadLetter.route(pinned, g.rules)
        guarded(g) = (pinned, routed.dead)
        routed.clean
      })

    for (star <- Stars) {
      val present = star.inputs.filter(i => r.holds(i.channel))
      if (present.nonEmpty) {
        val cfg = star.cfg(stateRoot)
        val (parts, commits) = present.map(i =>
          i.messages(clean(i.channel), cfg.stateDir, pin)).unzip
        // the wire funnels name the message id `msgId`, the kernel's tie
        // `sourceMessageId`; the kernel keeps the config's columns alone
        val msgs = parts.map(_.withColumnRenamed("msgId", cfg.tieCol)
          .select((cfg.keyCols ++ Seq(cfg.validFromUsCol, cfg.tieCol) ++
            cfg.payloadCols).map(col): _*)).reduce(_ unionByName _)
        // valid-time fold, or the stored-stamped bitemporal twin — through
        // the deployment's StarSink (parquet+manifest or RDBMS MERGE)
        if (!bitemporal) sink.fold(msgs, batchId, cfg)
        else sink.foldBitemporal(
          msgs.withColumn("storedFromUs", lit(batchId)), batchId, cfg)
        commits.foreach(_())
      }
    }

    // Dead letters go to dead/<name>/batch=N: the router's under
    // "router", each guard's under its own name. A batch known to hold
    // none writes no batch dir, and an earlier run's is removed (the
    // dead/<name> dir stays, as a write leaves it). The router knows from
    // `holds`; a guard's count was observed by the star fold that filled
    // the channel's cache, and a sink that skipped a committed batch
    // filled no cache, so its count is unknown: write as ever.
    val deadLetters = ("router", r.dead, !r.holds("dead")) +:
      guarded.toSeq.map { case (g, (pinned, dead)) =>
        (g.dead, dead, CacheBridge.observed(pinned).flatMap(_.get(g.dead))
          .exists(_.getLong(0) == 0L))
      }
    for ((name, dead, none) <- deadLetters) {
      val dir = new org.apache.hadoop.fs.Path(
        s"$stateRoot/dead/$name/batch=$batchId")
      if (!none) dead.write.mode("overwrite").parquet(dir.toString)
      else {
        val fs = dir.getFileSystem(
          batch.sparkSession.sparkContext.hadoopConfiguration)
        fs.delete(dir, true)
        fs.mkdirs(dir.getParent)
      }
    }
  }

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
    val c = starCfg("adt", stateRoot)
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
    val c = starCfg("conditions", stateRoot)
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
    val c = starCfg("condition_visits", stateRoot)
    (if (bitemporal) btLive(spark, c, sink)
     else sink.read(spark, c, "live"))
      .map(_.select(col("mrn"), col("conditionTypeId"),
        col("internalId"), col("visitNumber")))
  }
}
