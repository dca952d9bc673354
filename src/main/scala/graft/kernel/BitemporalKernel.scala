package graft.kernel

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

import scala.collection.mutable.ArrayBuffer

/** Bitemporal upsert kernel — the Spark-first re-expression of the
  * reference's `RowState` save pattern (ref: core/.../RowState.java:186-199
  * and design note core/dev/design_choices.md "State Wrapper"), the single
  * generic operator behind ~15 of the reference's 20 upsert controllers
  * (SURVEY.md §2.4 O1/O2/O3).
  *
  * Semantics per natural key:
  *   - updates fold in (validFrom, tieBreaker) order — canonical,
  *     arrival-order-independent (the reference's permutation-test property:
  *     its newer-only guard F7 makes arrival order converge to this);
  *   - F6 diff-or-skip: a version identical to its predecessor is a no-op
  *     and produces no new version / no audit row;
  *   - live state = last surviving version per key;
  *   - audit = every superseded version, with validUntil stamped from the
  *     superseding version's validFrom (ref: informdb/AuditCore.java:32-35).
  *
  * Batch formulation: ONE keyed pass. State, batch and (on the stored
  * axis) the prior version records are unioned, shuffled once on the key,
  * sorted within partitions and walked key by key; every output table is
  * a selection from that pass. No window, no join, no driver-side loop —
  * scales linearly with keys at any data size.
  */
object BitemporalKernel {

  /** @param live    current version per key (one row per key)
    * @param audit   superseded versions with valid_until_us stamped;
    *                consecutive identical-payload versions are coalesced
    *                into one interval (F6: a no-op update creates no audit
    *                churn and does not bump validFrom)
    * @param history all retained versions (pass back as `state` next
    *                batch). Coalescing is OUTPUT-only: an absorbed version
    *                must stay in history, because a later out-of-order
    *                arrival can land between it and its twin and make it
    *                significant again — dropping it would break
    *                permutation convergence.
    */
  final case class KernelResult(live: DataFrame, audit: DataFrame,
                                history: DataFrame)

  /** How the kernel's one exchange partitions its rows: `expr`, a
    * function of the key columns alone, IS the partition id, in
    * [0, `n`) (`Dataset.repartitionById`: no second hash, so ids never
    * collide; an explicit count, which AQE does not coalesce). A caller
    * that writes bucketed state maps whole buckets to partitions, so
    * each bucket leaves the kernel in one partition.
    */
  final case class KeyPartitioning(expr: Column, n: Int)

  /** Fold a batch of updates into (empty or existing) state.
    *
    * Two state-feeding modes, both with order-independent LIVE results:
    *  - `state` = previous `KernelResult.history`: the emitted audit is
    *    the CANONICAL history — identical for any batch split / arrival
    *    order (the mode the permutation suite checks; at scale, compact
    *    closed versions out once they exceed the lateness horizon you
    *    care to repair);
    *  - `state` = live rows only: matches the reference's runtime
    *    behavior — an update older than the live version cannot
    *    retro-insert into history (its F7 newer-only guard,
    *    RowState.java:77-79) and audit becomes arrival-order-dependent,
    *    exactly as the reference's audit tables are.
    *
    * @param state       current rows. Must contain keyCols,
    *                    validFromUsCol, tieCol, payloadCols.
    * @param updates     update rows, same columns.
    * @param keyCols     natural key (surrogate-free: stable across replays).
    * @param validFromUsCol event time, epoch µs.
    * @param tieCol      deterministic tie-breaker (e.g. source message id).
    * @param payloadCols mutable payload columns (F6 diff is over these).
    * @param partitioning the pass's exchange; default: hash of the key
    *   columns over `spark.sql.shuffle.partitions`.
    *
    * Live, audit and history are selections from one keyed pass
    * ([[batchTables]]); each action over them re-runs it.
    */
  def applyBatch(
      state: DataFrame,
      updates: DataFrame,
      keyCols: Seq[String],
      validFromUsCol: String,
      tieCol: String,
      payloadCols: Seq[String],
      partitioning: Option[KeyPartitioning] = None): KernelResult = {
    val msgCols = keyCols ++ Seq(validFromUsCol, tieCol) ++ payloadCols
    val out = batchTables(state, updates, keyCols, validFromUsCol, tieCol,
      payloadCols, partitioning)
    def table(name: String, cols: Seq[String]) =
      out.filter(col(TableCol) === name).select(cols.map(col): _*)
    KernelResult(
      live = table("live", msgCols),
      audit = table("audit", msgCols :+ "valid_until_us"),
      history = table("history", msgCols))
  }

  /** The column of [[batchTables]] and [[bitemporalTables]] naming each
    * row's output table. */
  val TableCol = "__table"

  /** [[applyBatch]]'s three outputs as ONE frame — one keyed pass, one
    * scan of it: the message columns, `valid_until_us` (null outside
    * audit) and [[TableCol]], which is "history" for a deduplicated
    * message, "live" for an open version and "audit" for a closed one. A
    * writer of all three tables reads the pass once, in one job.
    */
  def batchTables(
      state: DataFrame,
      updates: DataFrame,
      keyCols: Seq[String],
      validFromUsCol: String,
      tieCol: String,
      payloadCols: Seq[String],
      partitioning: Option[KeyPartitioning] = None): DataFrame = {
    val msgCols = keyCols ++ Seq(validFromUsCol, tieCol) ++ payloadCols
    keyedPass(state, updates, None, keyCols, validFromUsCol, tieCol,
      payloadCols, partitioning)
      .select(msgCols.map(col) :+ col("valid_until_us") :+
        when(col(Kind) === MessageRow, "history")
          .when(col("valid_until_us").isNull, "live")
          .otherwise("audit").as(TableCol): _*)
  }

  private val Src = "__src"
  private val Kind = "__kind"
  /** The pass's stamp columns, in output order. */
  private[graft] val StampCols = Seq("valid_until_us", "stored_from_us",
    "stored_until_us")
  // sources of the pass's input rows, in the order they sort at one
  // (key, validFrom, tie)
  private val StoredMessage = 0
  private val BatchMessage = 1
  private val Record = 2
  // kinds of the pass's output rows
  private val MessageRow = 0
  private val VersionRow = 1
  private val RecordRow = 2

  /** The kernel's one keyed pass. The prior messages, the batch and (on
    * the stored axis) the prior version records are unioned, tagged by
    * source, repartitioned once, sorted within partitions by (key,
    * validFrom, tie, source) and walked key by key ([[KeyWalk]]). The
    * output carries the message columns, `valid_until_us`,
    * `stored_from_us`, `stored_until_us` and a `__kind`: deduplicated
    * messages, then either valid-time versions or stored-axis records.
    *
    * @param stored the prior version records and the batch's stored-stamp
    *   column — the stored axis; None folds valid time only.
    */
  private def keyedPass(
      state: DataFrame,
      updates: DataFrame,
      stored: Option[(DataFrame, String)],
      keyCols: Seq[String],
      validFromUsCol: String,
      tieCol: String,
      payloadCols: Seq[String],
      partitioning: Option[KeyPartitioning]): DataFrame = {
    val msgCols = keyCols ++ Seq(validFromUsCol, tieCol) ++ payloadCols
    val noLong = lit(null).cast("long")
    def tagged(df: DataFrame, src: Int, stamps: Seq[Column],
               batchStamp: Column) =
      df.select(msgCols.map(col) ++ stamps :+ batchStamp.as("__stamp") :+
        lit(src).as(Src): _*)
    val unstamped = StampCols.map(noLong.as(_))
    val all = (Seq(
      tagged(state, StoredMessage, unstamped, noLong),
      tagged(updates, BatchMessage, unstamped,
        stored.fold(noLong)(s => col(s._2).cast("long")))) ++
      stored.map(s => tagged(s._1, Record, StampCols.map(col), noLong)))
      .reduce(_ unionByName _)

    val exchanged = partitioning match {
      case Some(p) => all.repartitionById(p.n, p.expr.cast("int"))
      case None    => all.repartition(keyCols.map(col): _*)
    }
    val outSchema = StructType(all.schema.fields.take(msgCols.size) ++
      StampCols.map(StructField(_, LongType)) :+
      StructField(Kind, IntegerType, nullable = false))
    val walk = new KeyWalk(keyCols.size, payloadCols.size, stored.isDefined)
    exchanged
      .sortWithinPartitions((msgCols.take(keyCols.size + 2) :+ Src).map(col): _*)
      .mapPartitions(walk.apply _)(Encoders.row(outSchema))
  }

  /** Walks one sorted partition of the pass, one key at a time. Input
    * rows are (message columns, valid_until_us, stored_from_us,
    * stored_until_us, __stamp, __src); output rows are (message columns,
    * valid_until_us, stored_from_us, stored_until_us, __kind).
    *
    * Memory: one key's input rows are held at once as deserialized
    * `Row`s, with that key's output rows (the intermediate buffers share
    * the input rows, they do not copy them) — about twice the key's
    * rows, on heap and unspilled. A key's hot history is bounded by the
    * compaction horizon; see SCALING.md "Per-key memory bound".
    */
  private final class KeyWalk(nKey: Int, nPayload: Int, stored: Boolean)
      extends Serializable {
    private val iVf = nKey
    private val iTie = nKey + 1
    private val nMsg = nKey + 2 + nPayload
    private val iVu = nMsg
    private val iSf = nMsg + 1
    private val iSu = nMsg + 2
    private val iStamp = nMsg + 3
    private val iSrc = nMsg + 4

    def apply(rows: Iterator[Row]): Iterator[Row] = {
      val in = rows.buffered
      Iterator.continually(in).takeWhile(_.hasNext).flatMap { _ =>
        val group = ArrayBuffer(in.next())
        while (in.hasNext && (0 until nKey).forall(i =>
            same(in.head.get(i), group.head.get(i))))
          group += in.next()
        foldKey(group)
      }
    }

    private def emit(r: Row, vu: Any, sf: Any, su: Any, kind: Int): Row =
      Row.fromSeq((0 until nMsg).map(r.get) ++ Seq(vu, sf, su, kind))

    private def samePayload(a: Row, b: Row): Boolean =
      (iTie + 1 until nMsg).forall(i => same(a.get(i), b.get(i)))

    private def foldKey(group: ArrayBuffer[Row]): ArrayBuffer[Row] = {
      val out = ArrayBuffer.empty[Row]
      val (records, msgs) = group.partition(_.getInt(iSrc) == Record)
      // W2: at-least-once delivery — an exact replay of a message (same
      // key, validFrom, tie) is a no-op (ref
      // Technical_overview_of_EMAP.md:189-196). `tie` must uniquely
      // identify the source message. Replays sort adjacent, the stored
      // copy first, so the first of each run is kept.
      val history = msgs.indices.collect {
        case i if i == 0 || !same(msgs(i).get(iVf), msgs(i - 1).get(iVf)) ||
          !same(msgs(i).get(iTie), msgs(i - 1).get(iTie)) => msgs(i)
      }
      history.foreach(h => out += emit(h, null, null, null, MessageRow))
      // F6 (output-side): coalesce runs of identical consecutive payloads
      // — keep the FIRST of each run (a no-op update does not bump
      // validFrom; ref RowState.java:155-162) — and close each kept
      // version at its successor's validFrom.
      val kept = history.indices.collect {
        case i if i == 0 || !samePayload(history(i), history(i - 1)) =>
          history(i)
      }
      def until(i: Int): Any =
        if (i + 1 < kept.size) kept(i + 1).get(iVf) else null
      if (!stored) {
        kept.indices.foreach(i => out += emit(kept(i), until(i), null, null,
          VersionRow))
        return out
      }

      // Stored axis. Identities (key, validFrom, tie) and the key's stamp
      // match with equi-join semantics: a null part never matches.
      val keyMatches = (0 until nKey).forall(i => !group.head.isNullAt(i))
      def matchable(r: Row) =
        keyMatches && !r.isNullAt(iVf) && !r.isNullAt(iTie)
      val stamps = msgs.collect {
        case m if m.getInt(iSrc) == BatchMessage && !m.isNullAt(iStamp) =>
          m.getLong(iStamp)
      }
      val stamp: Any = if (keyMatches && stamps.nonEmpty) stamps.max else null
      val (closed, open) = records.partition(r => !r.isNullAt(iSu))
      // stored-closed records are immutable
      closed.foreach(r => out += emit(r, r.get(iVu), r.get(iSf), r.get(iSu),
        RecordRow))
      def id(r: Row) = (r.get(iVf), r.get(iTie))
      val openById = open.filter(matchable).groupBy(id)
      kept.indices.foreach { i =>
        val v = kept(i)
        val olds =
          if (matchable(v)) openById.getOrElse(id(v), Nil) else Nil
        if (olds.isEmpty) out += emit(v, until(i), stamp, null, RecordRow)
        olds.foreach { o =>
          if (samePayload(v, o) && same(until(i), o.get(iVu)))
            // unchanged: keeps its stored_from (F6 on the stored axis)
            out += emit(v, until(i), o.get(iSf), null, RecordRow)
          else {
            out += emit(o, o.get(iVu), o.get(iSf), stamp, RecordRow)
            out += emit(v, until(i), stamp, null, RecordRow)
          }
        }
      }
      // vanished (absorbed, superseded or unmatchable): closed
      val keptIds = kept.filter(matchable).map(id).toSet
      open.filterNot(o => matchable(o) && keptIds.contains(id(o)))
        .foreach(o => out += emit(o, o.get(iVu), o.get(iSf), stamp, RecordRow))
      out
    }
  }

  /** Null-safe value equality with Spark's ordering semantics (`<=>` on
    * structs): NaN equals NaN, 0.0 equals -0.0, and arrays, structs and
    * binaries compare element by element.
    */
  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (null, null) => true
    case (null, _) | (_, null) => false
    case (x: Double, y: Double) => x == y || (x.isNaN && y.isNaN)
    case (x: Float, y: Float) => x == y || (x.isNaN && y.isNaN)
    case (x: java.math.BigDecimal, y: java.math.BigDecimal) =>
      x.compareTo(y) == 0
    case (x: Array[Byte], y: Array[Byte]) => java.util.Arrays.equals(x, y)
    case (x: Row, y: Row) =>
      x.length == y.length && (0 until x.length).forall(i => same(x.get(i), y.get(i)))
    case (x: scala.collection.Seq[_], y: scala.collection.Seq[_]) =>
      x.length == y.length && x.lazyZip(y).forall(same)
    case _ => a == b
  }

  // =================================================================
  // Stored-time axis — the second half of "bitemporal"
  // =================================================================

  /** Bitemporal state carried between batches.
    *
    * @param messages deduped raw message log (the valid-time fold input;
    *                 same role as [[KernelResult.history]]).
    * @param table    bitemporal version records: keyCols, validFromUs,
    *                 tie, payload, `valid_until_us`, `stored_from_us`,
    *                 `stored_until_us`. A record with null stored_until is
    *                 part of the current belief; stored-closed records are
    *                 IMMUTABLE — late arrivals rewrite valid-time history
    *                 but only ever append/close stored-time records, which
    *                 is what makes time-travel reproducible
    *                 (ref: informdb/AuditCore.java:32-35, 83-86;
    *                 TemporalCore.java:29-32).
    */
  final case class BitemporalState(messages: DataFrame, table: DataFrame)

  /** Empty bitemporal state with a schema derived from `updates`. */
  def emptyBitemporal(
      updates: DataFrame,
      keyCols: Seq[String],
      validFromUsCol: String,
      tieCol: String,
      payloadCols: Seq[String]): BitemporalState = {
    val msgCols = keyCols ++ Seq(validFromUsCol, tieCol) ++ payloadCols
    val empty = updates.selectExpr(msgCols: _*).limit(0)
    BitemporalState(
      messages = empty,
      table = empty
        .withColumn("valid_until_us", lit(null).cast("long"))
        .withColumn("stored_from_us", lit(null).cast("long"))
        .withColumn("stored_until_us", lit(null).cast("long")))
  }

  /** Fold one micro-batch of updates into bitemporal state (O2 with BOTH
    * audit axes — the reference's full `RowState` + `@AuditTable` pattern:
    * superseded rows get validUntil AND storedUntil stamped,
    * ref informdb/AuditCore.java:32-35).
    *
    * Semantics: re-derive the canonical valid-time history from the full
    * message log (order-independent, permutation-convergent), then diff it
    * against the open (stored_until IS NULL) records:
    *   - identical records (same key, validFrom, tie, payload, validUntil)
    *     keep their original stored_from — an update that doesn't change a
    *     version causes no stored churn (F6 on the stored axis);
    *   - records that disappeared or changed are closed with
    *     stored_until = the batch's stored stamp for that key;
    *   - new/changed records open with stored_from = that stamp;
    *   - stored-closed records pass through unchanged.
    * A version identity (key, validFrom, tie) with a null part never
    * matches a record, and a key with a null part gets a null stamp
    * (equi-join semantics).
    *
    * Both tables are selections from one keyed pass
    * ([[bitemporalTables]]); `partitioning` is [[applyBatch]]'s.
    *
    * Stored-time granularity is the batch: all of a key's changes within
    * one batch share one stamp, `max(storedFromUs)` over the key's updates
    * (the reference, processing serially, stamps per message — call this
    * once per distinct storedFrom for that granularity; the fold is
    * associative so the result agrees).
    *
    * Scale: cost is O(history of touched keys) when the caller pre-buckets
    * state by key (see streaming.StarPipeline's bucketed fold) — keys
    * without updates are diff-identity and produce no churn, so folding
    * only buckets containing batch keys is exact.
    *
    * Time-travel over the result: [[graft.functions.GraftFunctions.storedAsOf]]
    * plus the valid-interval filter — `stored_from <= S < stored_until AND
    * valid_from <= t < valid_until` answers "state as the database knew it
    * at S, effective at t" (ref informdb/AuditCore.java:83-86).
    */
  def applyBitemporal(
      prev: BitemporalState,
      updates: DataFrame,
      keyCols: Seq[String],
      validFromUsCol: String,
      tieCol: String,
      storedFromUsCol: String,
      payloadCols: Seq[String],
      partitioning: Option[KeyPartitioning] = None): BitemporalState = {
    val msgCols = keyCols ++ Seq(validFromUsCol, tieCol) ++ payloadCols
    val out = bitemporalTables(prev, updates, keyCols, validFromUsCol,
      tieCol, storedFromUsCol, payloadCols, partitioning)
    def table(name: String, cols: Seq[String]) =
      out.filter(col(TableCol) === name).select(cols.map(col): _*)
    BitemporalState(
      messages = table("messages", msgCols),
      table = table("table", msgCols ++ StampCols))
  }

  /** [[applyBitemporal]]'s two outputs as ONE frame — one keyed pass, one
    * scan of it: the message columns, the three stamp columns (null on a
    * message) and [[TableCol]], "messages" for a deduplicated message and
    * "table" for a version record.
    */
  def bitemporalTables(
      prev: BitemporalState,
      updates: DataFrame,
      keyCols: Seq[String],
      validFromUsCol: String,
      tieCol: String,
      storedFromUsCol: String,
      payloadCols: Seq[String],
      partitioning: Option[KeyPartitioning] = None): DataFrame = {
    val msgCols = keyCols ++ Seq(validFromUsCol, tieCol) ++ payloadCols
    keyedPass(prev.messages, updates, Some((prev.table, storedFromUsCol)),
      keyCols, validFromUsCol, tieCol, payloadCols, partitioning)
      .select((msgCols ++ StampCols).map(col) :+
        when(col(Kind) === MessageRow, "messages").otherwise("table")
          .as(TableCol): _*)
  }

  /** O3: delete-if-newer with audit (ref: core/.../PersonController.java:347-366).
    * Deletes (with tombstone into audit) live rows whose key appears in
    * `deletes` with a strictly newer validFrom.
    */
  def deleteIfNewer(
      live: DataFrame,
      deletes: DataFrame,
      keyCols: Seq[String],
      validFromUsCol: String): KernelResult = {
    val dk = deletes
      .groupBy(keyCols.map(col): _*)
      .agg(max(col(validFromUsCol)).as("__del_vf"))
    val joined = live.join(dk, keyCols, "left")
    val isDeleted = col("__del_vf").isNotNull && col("__del_vf") > col(validFromUsCol)
    val remaining = joined.filter(!isDeleted).drop("__del_vf")
    KernelResult(
      live = remaining,
      audit = joined.filter(isDeleted)
        .withColumn("valid_until_us", col("__del_vf")).drop("__del_vf"),
      history = remaining)
  }
}
