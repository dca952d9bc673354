package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Ordered interval inference for patient location visits — the
  * reference's core ADT semantics (SURVEY.md §2.4 O6/O7/O8; ref:
  * core/.../PatientLocationController.java:143-506,588-732).
  *
  * The reference repairs interval chains imperatively per message; the
  * batch-canonical re-derivation below produces the same converged final
  * state for ANY arrival order (the property its permutation suite
  * checks), using only windows over (visit, validFrom) — one shuffle.
  *
  * Message model (subset of FIXTURES.md §1):
  *   msgType ∈ {Admit, Transfer, Discharge, CancelAdmit, CancelTransfer,
  *              CancelDischarge}; location-bearing moves carry
  *   `location`; Discharge carries `dischargeTimeUs`; cancels carry the
  *   original event's time in `targetTimeUs`.
  *
  * Semantics:
  *  - each surviving move opens an interval at its validFrom
  *    (inferredAdmission=false);
  *  - Cancel{Admit,Transfer} annihilates the matching move by
  *    (visit, location, validFrom) — O8;
  *  - consecutive same-location intervals merge (keep earliest
  *    admission) — the reference's adjacent-merge after CancelTransfer;
  *  - every non-final interval's discharge = next interval's admission,
  *    flagged inferredDischarge=true — O6;
  *  - a surviving Discharge (newest wins; CancelDischarge annihilates by
  *    (visit, dischargeTimeUs)) closes the final interval with
  *    inferredDischarge=false — O7;
  *  - a Discharge for a visit with no surviving moves materializes a
  *    1-second inferred visit [discharge−1s, discharge) — O7's
  *    unknown-visit repair (PatientLocationController.java:477-506).
  */
object LocationVisits {

  /** Valid intervals only (the reference rejects zero/negative-length
    * visits, PatientLocationController.java:384-387); the rejects go to
    * [[intervalErrors]].
    */
  def deriveIntervals(messages: DataFrame): DataFrame =
    deriveAll(messages)
      .filter(col("dischargeUs").isNull ||
        col("dischargeUs") > col("admissionUs"))

  private def deriveAll(messages: DataFrame): DataFrame = {
    val m = messages

    // O8: annihilate cancelled moves.
    val moveCancels = m
      .filter(col("msgType").isin("CancelAdmit", "CancelTransfer"))
      .select(col("visitId").as("c_visit"), col("location").as("c_loc"),
        col("targetTimeUs").as("c_t"))
      .distinct()
    val moves = m.filter(col("msgType").isin("Admit", "Transfer"))
      .join(moveCancels,
        col("visitId") === col("c_visit") && col("location") === col("c_loc")
          && col("validFromUs") === col("c_t"),
        "left_anti")
      // W2: duplicate delivery of the same move is a no-op
      .dropDuplicates("visitId", "location", "validFromUs")

    // O8: annihilate cancelled discharges; newest surviving one wins (F7).
    val dischCancels = m.filter(col("msgType") === "CancelDischarge")
      .select(col("visitId").as("c_visit"), col("targetTimeUs").as("c_t"))
      .distinct()
    val discharges = m.filter(col("msgType") === "Discharge")
      .join(dischCancels,
        col("visitId") === col("c_visit") &&
          col("dischargeTimeUs") === col("c_t"),
        "left_anti")
      .groupBy(col("visitId"))
      .agg(max(struct(col("validFromUs"), col("dischargeTimeUs")))
        .getField("dischargeTimeUs").as("finalDischargeUs"))

    // O6: order per visit, merge same-location runs, infer discharges.
    val w = Window.partitionBy(col("visitId"))
      .orderBy(col("validFromUs"), col("sourceMessageId"))
    val runs = moves
      .withColumn("__prev_loc", lag(col("location"), 1).over(w))
      .filter(col("__prev_loc").isNull ||
        col("location") =!= col("__prev_loc"))
      .withColumn("__next_adm", lead(col("validFromUs"), 1).over(
        Window.partitionBy(col("visitId"))
          .orderBy(col("validFromUs"), col("sourceMessageId"))))

    val fromMoves = runs.join(discharges, Seq("visitId"), "left")
      .select(
        col("visitId"),
        col("location"),
        col("validFromUs").as("admissionUs"),
        lit(false).as("inferredAdmission"),
        coalesce(col("__next_adm"), col("finalDischargeUs"))
          .as("dischargeUs"),
        col("__next_adm").isNotNull.as("inferredDischarge"))

    // O7 unknown-visit repair: discharge with no surviving moves.
    val orphanDischarges = discharges
      .join(moves.select(col("visitId")).distinct(), Seq("visitId"),
        "left_anti")
      .select(col("visitId"), lit(null).cast("string").as("location"),
        (col("finalDischargeUs") - 1000000L).as("admissionUs"),
        lit(true).as("inferredAdmission"),
        col("finalDischargeUs").as("dischargeUs"),
        lit(false).as("inferredDischarge"))

    fromMoves.unionByName(orphanDischarges)
  }

  /** Error channel for [[deriveIntervals]]: zero- or negative-length
    * intervals the reference rejects (a surviving Discharge at or before
    * the last admission, or two surviving moves at the same instant; ref
    * PatientLocationController.java:384-387). Same derivation, inverse
    * guard — route to a dead-letter sink, never silently keep.
    */
  def intervalErrors(messages: DataFrame): DataFrame =
    deriveAll(messages)
      .filter(col("dischargeUs").isNotNull &&
        col("dischargeUs") <= col("admissionUs"))

  /** The flagship EMAP read query (ref Technical_overview_of_EMAP.md:43-46):
    * who is in which location at time t — F10 over the interval table.
    */
  def occupancyAsOf(intervals: DataFrame, tUs: Long): DataFrame =
    intervals.filter(col("admissionUs") <= tUs &&
      (col("dischargeUs").isNull || col("dischargeUs") > tUs))

  /** O9: atomically exchange the locations of two visits' open intervals
    * (SwapLocations; ref PatientLocationController.java:109-133). Batch
    * form: swaps are applied to the derived interval table in one join —
    * the per-batch equivalent of the reference's 2-key transaction.
    * `swaps` columns: visitA, visitB.
    */
  def swapLocations(intervals: DataFrame, swaps: DataFrame): DataFrame = {
    val open = col("dischargeUs").isNull
    val aSide = swaps.select(col("visitA").as("s_visit"),
      col("visitB").as("s_other"))
    val bSide = swaps.select(col("visitB").as("s_visit"),
      col("visitA").as("s_other"))
    val pairs = broadcast(aSide.unionByName(bSide))
    val openLocs = intervals.filter(open)
      .select(col("visitId").as("o_visit"), col("location").as("o_loc"))
    intervals.as("i")
      .join(pairs, col("i.visitId") === col("s_visit"), "left")
      .join(openLocs, col("s_other") === col("o_visit"), "left")
      .select(
        col("i.visitId").as("visitId"),
        when(col("s_other").isNotNull && open, col("o_loc"))
          .otherwise(col("i.location")).as("location"),
        col("i.admissionUs").as("admissionUs"),
        col("i.inferredAdmission").as("inferredAdmission"),
        col("i.dischargeUs").as("dischargeUs"),
        col("i.inferredDischarge").as("inferredDischarge"))
  }
}
