package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.graftbridge.CacheBridge
import graft.kernel.BitemporalKernel

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** S8/W1: the streaming star-maintenance pipeline — every micro-batch of
  * messages is folded into the persisted bitemporal state via the kernel
  * (SURVEY.md §7 design stance: "the star tables ARE the state"; no
  * watermark can bound star state because lateness is unbounded, ref
  * Technical_overview_of_EMAP.md:180).
  *
  * foreachBatch = the reference's per-message ACID transaction at
  * micro-batch granularity.
  *
  * State layout — incremental by key bucket, atomic by manifest:
  *
  *   stateDir/_CURRENT              → name of the live manifest file
  *   stateDir/manifest-v<N>         → lines `table \t bucket \t relPath`
  *   stateDir/_HORIZON              → compaction horizon (epoch µs)
  *   stateDir/data/v<N>/__table=<t>/__bucket=<k>/  (parquet files; a
  *                                replay of batch N writes v<N>.<n>)
  *
  * One fold (or compaction) writes every table it produces — history,
  * live and audit, or bt_messages and bt_table, plus the `.cold` tiers
  * of a compaction — in ONE parquet write into one version dir, so all
  * tables share one file schema: a table's files carry the stamp
  * columns of the others as all-null columns, and [[readState]] drops
  * the ones the table does not have. States written in the older
  * per-table layout (`data/<table>/v<N>/__bucket=<k>`) read unchanged:
  * a manifest line names its files whatever dir holds them.
  *
  * History is hash-partitioned into `nBuckets` buckets on the key. A
  * micro-batch reads ONLY the buckets its keys hash into, folds them with
  * the kernel, and writes ONLY those buckets back; the new manifest
  * carries every untouched bucket's entry forward verbatim (same files —
  * zero I/O, not even a copy). Fold cost is therefore O(state of touched
  * buckets), not O(total state): size nBuckets so a bucket's history fits
  * an executor, and per-batch cost tracks batch key-spread instead of
  * table size — the property that keeps the write path alive at 100×.
  *
  * One manifest covers history/live/audit together, and readers resolve
  * every table through the single `_CURRENT` pointer (one atomic rename,
  * [[VersionedDir.commit]]), so a crash during the write can never
  * expose mixed versions — a reader joining live+audit always sees one
  * consistent fold. Version dirs follow [[VersionedDir.fresh]]: a write
  * never lands in a dir the live manifest references, so replaying a
  * committed batch id reads its old buckets intact. (Single-writer
  * parquet-swap; swap in Delta/Iceberg MERGE for multi-writer
  * production.)
  *
  * Both temporal axes and every [[StarSink]] share one fold body
  * ([[foldWith]]); the axes differ only in the kernel step
  * ([[validStep]] / [[bitemporalStep]]) and in how compaction classifies
  * cold rows, the sinks only in storage. This manifest layout is
  * [[ManifestStarSink]]'s.
  */
object StarPipeline {

  /** @param storedFromUsCol batch column holding the stored-time stamp
    *   (epoch µs, e.g. ingestion time) — consumed by the BITEMPORAL fold
    *   ([[foldBatchBitemporal]]); the valid-time-only [[foldBatch]]
    *   ignores it.
    */
  final case class Config(stateDir: String, keyCols: Seq[String],
                          validFromUsCol: String, tieCol: String,
                          payloadCols: Seq[String], nBuckets: Int = 64,
                          storedFromUsCol: String = "storedFromUs")

  /** table → (bucket id → path relative to stateDir). */
  private[streaming] type ManifestMap = Map[String, Map[String, String]]

  /** A reader of the touched prior state of a table, given the table's
    * schema; None before the table has rows. */
  private[streaming] type Prior = (String, StructType) => Option[DataFrame]

  /** The frames one fold pins with [[CacheBridge.pinned]]: `apply` pins a
    * frame and returns its cached leaf, `release` unpersists them all.
    * A fold body releases its pins in a `finally`; no frame over a pinned
    * leaf may be run after that.
    */
  private[streaming] final class Pins extends (DataFrame => DataFrame) {
    private val held = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def apply(df: DataFrame): DataFrame = { held += df; CacheBridge.pinned(df) }
    def release(): Unit = held.foreach(_.unpersist(false))
  }

  /** A kernel step's outputs: every output table's rows in ONE frame,
    * `rows`, each row's table named in [[BitemporalKernel.TableCol]], and
    * `tables` — (table, its columns, its row identity keys). A sink that
    * writes all tables at once reads `rows`: one job over one kernel pass.
    * [[table]] reads one table, over `rows` pinned on first use, so a sink
    * that reads table by table runs the pass once too.
    */
  private[streaming] final class Outputs(
      val rows: DataFrame, val tables: Seq[(String, Seq[String], Seq[String])],
      pins: Pins) {
    private lazy val pinned = pins(rows)
    def table(name: String): DataFrame = {
      val cols = tables.collectFirst { case (`name`, c, _) => c }.get
      pinned.filter(col(BitemporalKernel.TableCol) === name)
        .select(cols.map(col): _*)
    }
  }

  private[streaming] def bucketOf(cfg: Config): Column =
    pmod(xxhash64(cfg.keyCols.map(col): _*), lit(cfg.nBuckets))

  /** The kernel's one exchange for a fold: the touched buckets
    * (ascending) dealt round-robin over min(touched, shuffle partitions)
    * partitions. Each bucket lies whole in one partition, so each
    * written bucket is one file whatever the core count; partitions'
    * bucket counts differ by at most one; and no task runs empty — every
    * write task deserializes its job and runs the commit protocol, rows
    * or not.
    */
  private def byBucket(cfg: Config, touched: Seq[Long], spark: SparkSession) = {
    val n = touched.size.min(spark.conf.get("spark.sql.shuffle.partitions").toInt)
    Some(BitemporalKernel.KeyPartitioning(
      (array_position(typedLit(touched), bucketOf(cfg)) - 1) % n, n))
  }

  private[streaming] def readManifest(stateDir: String): ManifestMap =
    VersionedDir.read(stateDir, "_CURRENT").fold(Map.empty: ManifestMap) {
      name => VersionedDir.read(stateDir, name)
        .getOrElse(sys.error(s"$stateDir/_CURRENT names missing $name"))
        .split("\n").map(_.split("\t"))
        .collect { case Array(t, b, p) => (t, b, p) }
        .groupBy(_._1)
        .map { case (t, rows) => t -> rows.map(r => r._2 -> r._3).toMap }
    }

  private[streaming] def writeManifest(cfg: Config, man: ManifestMap,
                                       batchId: Long): Unit = {
    val name = s"manifest-v$batchId"
    val body = (for {
      (t, buckets) <- man.toSeq.sortBy(_._1)
      (b, p) <- buckets.toSeq.sortBy(_._1)
    } yield s"$t\t$b\t$p").mkString("\n")
    // a replayed batch id rewrites the very manifest `_CURRENT` names:
    // replace it by rename, never truncate it in place
    VersionedDir.commit(cfg.stateDir, name, body)
    VersionedDir.commit(cfg.stateDir, "_CURRENT", name)
  }

  /** Was `stateDir` folded on the stored-time axis? */
  private[streaming] def isBitemporal(stateDir: String): Boolean =
    readManifest(stateDir).keysIterator.exists(_.startsWith("bt_"))

  /** The kernel's stamp columns a table carries: `valid_until_us` in
    * `audit` and `bt_table`, the stored pair in `bt_table` alone. */
  private def stampsOf(table: String): Seq[String] =
    table.stripSuffix(".cold") match {
      case "audit"    => BitemporalKernel.StampCols.take(1)
      case "bt_table" => BitemporalKernel.StampCols
      case _          => Nil
    }

  /** A table's files under version dir `dir`, bucket `k`. */
  private[streaming] def bucketPath(dir: String, table: String, k: Long): String =
    s"$dir/${BitemporalKernel.TableCol}=$table/__bucket=$k"

  /** Write `rows` — every table's rows, each row's table named in
    * [[BitemporalKernel.TableCol]] — in ONE parquet write, partitioned by
    * table and bucket, into a fresh version dir: `data/v<batchId>`, or
    * `data/v<batchId>.<n>` while the manifest still references a version
    * dir of that name (in this layout or the older per-table one). Return
    * the dir with the bucket ids each table holds there; a table with no
    * rows in a bucket gets no directory for it.
    */
  private[streaming] def writeVersion(cfg: Config, man: ManifestMap,
                                      batchId: Long, rows: DataFrame)
      : (String, Map[String, Set[Long]]) = {
    val live = man.valuesIterator.flatMap(_.valuesIterator).map { p =>
      val d = p.substring(0, p.indexOf("/__"))
      d.substring(d.lastIndexOf('/') + 1)
    }.toSet
    val dir = VersionedDir.fresh(s"data/v$batchId",
      d => live(d.stripPrefix("data/")))
    rows.withColumn("__bucket", bucketOf(cfg))
      .write.mode("overwrite")
      .partitionBy(BitemporalKernel.TableCol, "__bucket")
      .parquet(s"${cfg.stateDir}/$dir")
    (dir, bucketsIn(Paths.get(cfg.stateDir, dir)))
  }

  /** table → bucket ids under a written version dir — one directory
    * listing per table, instead of a `Files.exists` probe per bucket
    * (object-store-friendly: N round-trips → 1 LIST per table).
    */
  private def bucketsIn(dir: Path): Map[String, Set[Long]] = {
    // partition value → its dir, for the `<column>=<value>` dirs under p
    def sub(p: Path, column: String): Map[String, Path] =
      if (!Files.isDirectory(p)) Map.empty else {
        val s = Files.list(p)
        try s.iterator().asScala.map(d => d.getFileName.toString -> d)
          .collect { case (n, d) if n.startsWith(s"$column=") =>
            n.stripPrefix(s"$column=") -> d }
          .toMap
        finally s.close()
      }
    sub(dir, BitemporalKernel.TableCol).map { case (t, d) =>
      t -> sub(d, "__bucket").keySet.map(_.toLong) }
  }

  /** Read a table as of the current manifest (all buckets unioned), with
    * the columns the table carries: the stamp columns its files hold only
    * because another table shared their write are dropped.
    */
  def readState(spark: SparkSession, cfg: Config, table: String): Option[DataFrame] =
    readManifest(cfg.stateDir).get(table).filter(_.nonEmpty).map { buckets =>
      spark.read.parquet(
        buckets.values.toSeq.sorted.map(p => s"${cfg.stateDir}/$p"): _*)
        .drop(BitemporalKernel.StampCols.filterNot(stampsOf(table).toSet): _*)
    }

  /** Fold one micro-batch into the persisted state. Idempotent on replay
    * (W2): re-folding the same batch produces the same history because
    * the kernel dedups on (key, validFrom, tie); the rewrite goes to
    * version dirs the current manifest does not reference, and the
    * manifest swap is a rename, so a reader never sees a partial star.
    *
    * Horizon safety: a batch row with validFrom below the compaction
    * horizon automatically un-compacts its bucket — that bucket's cold
    * history folds back into the hot tier (and its cold manifest entries
    * drop), so a fold can never diverge from full-replay history (F6
    * coalescing always compares against the true predecessor). Batches
    * with no such row pay nothing: the late-bucket probe rides the same
    * touched-bucket observation.
    */
  def foldBatch(batch0: DataFrame, batchId: Long, cfg: Config): Unit =
    ManifestStarSink.fold(batch0, batchId, cfg)

  /** The valid-time kernel step: history → history/live/audit. */
  private def validStep(batch: DataFrame, cfg: Config, prior: Prior,
                        touched: Seq[Long], pins: Pins): Outputs = {
    // history holds the message columns, as the kernel emits them
    val historySchema = BitemporalKernel.emptyBitemporal(batch, cfg.keyCols,
      cfg.validFromUsCol, cfg.tieCol, cfg.payloadCols).messages.schema
    val msgCols = historySchema.fieldNames.toSeq
    // live is one row per key; history and audit one per version
    val versionKeys = cfg.keyCols ++ Seq(cfg.validFromUsCol, cfg.tieCol)
    new Outputs(BitemporalKernel.batchTables(
        prior("history", historySchema).getOrElse(batch.limit(0)), batch,
        cfg.keyCols, cfg.validFromUsCol, cfg.tieCol, cfg.payloadCols,
        byBucket(cfg, touched, batch.sparkSession)),
      Seq(("history", msgCols, versionKeys), ("live", msgCols, cfg.keyCols),
        ("audit", msgCols :+ "valid_until_us", versionKeys)), pins)
  }

  /** The one fold body of both axes and every [[StarSink]]: skip a batch
    * the sink has already committed, pin the batch, probe its touched and
    * late buckets, hand the axis's kernel step the sink's reader of the
    * touched state, have the sink persist the step's outputs atomically,
    * and release the pins.
    */
  private[streaming] def foldWith(batch0: DataFrame, batchId: Long,
                                  cfg: Config, sink: StarSink,
                                  bitemporal: Boolean): Unit = {
    if (sink.committed(cfg, batchId, bitemporal)) return

    // The batch feeds the bucket probe and the kernel; its lineage is
    // often an expression-heavy parse — evaluate it once, and plan the
    // kernel over the cached relation, not that lineage. A sink reading
    // the step's tables one by one pins the kernel pass through them too
    // ([[Outputs.table]]).
    val pins = new Pins
    try {
    val batch = pins(batch0)

    // Which buckets does this batch touch (≤ nBuckets small longs), and
    // which of them carry arrivals from before the sink's compaction
    // horizon (those need their cold tier folded back in)? Observed over
    // a `noop` write of the pinned batch, which also fills its cache: one
    // job, no shuffle.
    val bucket = bucketOf(cfg)
    val isLate = sink.horizon(cfg).fold(lit(false))(col(cfg.validFromUsCol) < _)
    val probe = Observation()
    batch.observe(probe, collect_set(bucket).as("__touched"),
        collect_set(when(isLate, bucket)).as("__late"))
      .write.format("noop").mode("overwrite").save()
    val found = probe.get
    def buckets(name: String) =
      found(name).asInstanceOf[scala.collection.Seq[Long]].toSeq
    val touched = buckets("__touched").sorted
    if (touched.isEmpty) return
    val late = buckets("__late").toSet

    val prior: Prior = (tbl, schema) =>
      sink.prior(batch.sparkSession, cfg, tbl, schema, touched, late)
    val step = if (bitemporal) bitemporalStep _ else validStep _
    sink.persist(cfg, batchId, bitemporal,
      step(batch, cfg, prior, touched, pins), touched, late)
    } finally pins.release()
  }

  // =================================================================
  // Bitemporal mode — the stored-time axis, persisted (O2 both axes)
  // =================================================================

  /** Fold one micro-batch into persisted BITEMPORAL state — the
    * stored-axis twin of [[foldBatch]], persisting
    * [[BitemporalKernel.BitemporalState]] (deduped message log + version
    * records stamped `stored_from_us`/`stored_until_us`) through the same
    * bucketed manifest layout and the same fold body. This is what makes
    * the reference's headline reproducibility — "state as the DB knew it
    * at stored time S" (ref informdb/AuditCore.java:32-35,83-86;
    * TemporalCore.java:29-32) — answerable from the PERSISTED star,
    * surviving a process restart: every batch closes superseded records
    * with the batch's stored stamp (`cfg.storedFromUsCol`, e.g.
    * ingestion time) and opens replacements, records once stored-closed
    * are immutable forever.
    *
    * Scale, late-arrival and replay behaviour are [[foldBatch]]'s.
    * Idempotent on replay: the kernel's message dedup + the stored-diff's
    * F6 (an update that changes nothing causes no stored churn) make a
    * re-folded batch a no-op.
    */
  def foldBatchBitemporal(batch0: DataFrame, batchId: Long,
                          cfg: Config): Unit =
    ManifestStarSink.foldBitemporal(batch0, batchId, cfg)

  /** The both-axes kernel step: bt_messages/bt_table → both. */
  private def bitemporalStep(batch: DataFrame, cfg: Config, prior: Prior,
                             touched: Seq[Long], pins: Pins): Outputs = {
    val empty = BitemporalKernel.emptyBitemporal(batch, cfg.keyCols,
      cfg.validFromUsCol, cfg.tieCol, cfg.payloadCols)
    val prev = BitemporalKernel.BitemporalState(
      messages = prior("bt_messages", empty.messages.schema)
        .getOrElse(empty.messages),
      table = prior("bt_table", empty.table.schema).getOrElse(empty.table))
    // the kernel's "messages"/"table" are this star's bt_messages/bt_table
    val tableCol = BitemporalKernel.TableCol
    val rows = BitemporalKernel.bitemporalTables(prev, batch, cfg.keyCols,
        cfg.validFromUsCol, cfg.tieCol, cfg.storedFromUsCol, cfg.payloadCols,
        byBucket(cfg, touched, batch.sparkSession))
      .withColumn(tableCol, concat(lit("bt_"), col(tableCol)))
    // a message is (key, validFrom, tie); a version record is a message
    // opened at a stored stamp
    val msgKeys = cfg.keyCols ++ Seq(cfg.validFromUsCol, cfg.tieCol)
    new Outputs(rows,
      Seq(("bt_messages", empty.messages.columns.toSeq, msgKeys),
        ("bt_table", empty.table.columns.toSeq, msgKeys :+ "stored_from_us")),
      pins)
  }

  /** The complete bitemporal version table (hot ∪ cold) — query it with
    * [[graft.functions.GraftFunctions.storedAsOf]] plus the valid-interval
    * filter `valid_from <= t < valid_until` for both-axes time travel over
    * the persisted star.
    */
  def readBitemporal(spark: SparkSession, cfg: Config): Option[DataFrame] =
    readFull(spark, cfg, "bt_table")

  /** Path-only read of a bitemporal state dir (reads resolve purely
    * through the manifest; no key/time configuration is needed).
    */
  def readBitemporal(spark: SparkSession, stateDir: String): Option[DataFrame] =
    readBitemporal(spark, Config(stateDir, Nil, "", "", Nil))

  /** Compaction for the bitemporal state at valid-time horizon
    * `horizonUs` — keeps the per-fold read bounded as stored history
    * accumulates. Three row classes archive to the `.cold` tier:
    *
    *   - stored-closed records (`stored_until_us` NOT NULL): immutable
    *     forever, safe to archive unconditionally;
    *   - open records wholly before the per-key boundary version u* =
    *     the key's last version starting before the horizon: an arrival
    *     with validFrom ≥ horizon can never change their payload,
    *     validUntil, or existence, so the stored diff never touches
    *     them;
    *   - messages strictly before u* in (validFrom, tie) order: the hot
    *     tail then re-derives versions from u* on, and u* is a true
    *     version boundary, so payload coalescing (F6) is unchanged.
    *
    * Arrivals BELOW the horizon auto-un-compact their buckets inside
    * [[foldBatchBitemporal]] (hot ∪ cold fold, cold entries dropped) —
    * correctness never depends on the caller splitting the batch.
    */
  def compactBitemporal(spark: SparkSession, cfg: Config, horizonUs: Long,
                        batchId: Long): Unit = {
    val (tbl, msgs) = (readState(spark, cfg, "bt_table"),
      readState(spark, cfg, "bt_messages")) match {
      case (Some(t), Some(m)) => (t, m)
      case _ => return
    }
    // per-key boundary version u*: max (validFrom, tie) over OPEN
    // records starting before the horizon
    val vfTie = struct(col(cfg.validFromUsCol), col(cfg.tieCol))
    val bounds = tbl.filter(col("stored_until_us").isNull &&
        col(cfg.validFromUsCol) < horizonUs)
      .groupBy(cfg.keyCols.map(col): _*)
      .agg(max(vfTie).as("__u"))
    def flag(df: DataFrame, isCold: Column): DataFrame =
      df.join(bounds, cfg.keyCols, "left")
        .withColumn("__cold", coalesce(isCold, lit(false))).drop("__u")
    val beforeBoundary = col("__u").isNotNull && vfTie < col("__u")
    retier(cfg, horizonUs, batchId, Seq(
      "bt_table" -> flag(tbl, col("stored_until_us").isNotNull ||
        (col("stored_until_us").isNull && beforeBoundary)),
      "bt_messages" -> flag(msgs, beforeBoundary)))
  }

  /** W6/S9 compaction — the maintenance lever that keeps the per-fold
    * read cost bounded as history accumulates: versions closed before
    * `horizonUs` move from the hot buckets to an append-only cold
    * archive (`<table>.cold` manifest entries, never rewritten by later
    * folds or compactions), and only the hot tail stays in the buckets
    * [[foldBatch]] reads. Correctness contract: after compacting at H,
    * arrivals with validFrom >= H fold identically to the uncompacted
    * state (cold rows of a key all sort strictly before any such
    * arrival, so the kernel's re-derivation over the hot tail is
    * unchanged); an arrival BEFORE H un-compacts its bucket inside
    * [[foldBatch]] — the bucket folds over hot ∪ cold and its cold
    * entries drop, every other bucket's tiers carry forward — so no
    * caller splits a batch against the horizon, and the next compaction
    * re-tiers the un-compacted buckets. The horizon persists in
    * `_HORIZON` under one manifest swap with the data move.
    *
    * Cost: one pass over the hot state + the newly-cold rows — the
    * scheduled-job analog of Delta OPTIMIZE; existing cold files are
    * carried by reference (zero I/O), so repeated compactions stay
    * O(hot), not O(archive).
    */
  def compact(spark: SparkSession, cfg: Config, horizonUs: Long,
              batchId: Long): Unit =
    retier(cfg, horizonUs, batchId, Seq("history", "audit").flatMap { tbl =>
      // history carries no stamped until (folds re-derive it) — a
      // version is closed iff its successor's validFrom is known and
      // before the horizon, the same lead() the kernel stamps with;
      // audit rows carry valid_until_us directly.
      val closed = tbl match {
        case "history" =>
          val byKey = org.apache.spark.sql.expressions.Window
            .partitionBy(cfg.keyCols.map(col): _*)
            .orderBy(col(cfg.validFromUsCol), col(cfg.tieCol))
          lead(col(cfg.validFromUsCol), 1).over(byKey) < horizonUs
        case _ => col("valid_until_us") < horizonUs
      }
      readState(spark, cfg, tbl).map(state =>
        tbl -> state.withColumn("__cold", coalesce(closed, lit(false))))
    })

  /** The one hot/cold re-tier writer of both axes. Each table's frame
    * carries a `__cold` flag: its hot rows replace the table's hot
    * buckets, its cold rows are appended to `<table>.cold` under keys
    * `<bucket>-<version dir>` (`3-v7`, or `3-v7.1` when compaction 7 is
    * replayed), so a replay adds entries beside the first run's instead
    * of replacing them. Both tiers of every table go out in one write.
    */
  private def retier(cfg: Config, horizonUs: Long, batchId: Long,
                     flagged: Seq[(String, DataFrame)]): Unit = {
    val man = readManifest(cfg.stateDir)
    // (a state with no rows yet has nothing to write)
    val (dir, present) = flagged.map { case (tbl, df) =>
        df.withColumn(BitemporalKernel.TableCol,
          when(col("__cold"), s"$tbl.cold").otherwise(tbl)).drop("__cold")
      }.reduceOption(_.unionByName(_, allowMissingColumns = true))
      .fold(("", Map.empty[String, Set[Long]]))(
        writeVersion(cfg, man, batchId, _))
    def entries(t: String, suffix: String) =
      present.getOrElse(t, Set.empty)
        .map(k => s"$k$suffix" -> bucketPath(dir, t, k)).toMap
    val coldSuffix = "-" + dir.substring(dir.lastIndexOf('/') + 1)
    val newMan = flagged.foldLeft(man) { case (m, (tbl, _)) =>
      m.updated(tbl, entries(tbl, ""))
        .updated(s"$tbl.cold", m.getOrElse(s"$tbl.cold", Map.empty) ++
          entries(s"$tbl.cold", coldSuffix))
    }
    // Horizon FIRST, then the manifest swap: a crash between the two
    // leaves the horizon advanced over an un-compacted manifest, which
    // is safe — the fold's late-bucket probe finds no cold entries and
    // reads the still-complete hot tier. The reverse order would let
    // pre-horizon arrivals fold over hot-only state.
    VersionedDir.commit(cfg.stateDir, "_HORIZON", horizonUs.toString)
    writeManifest(cfg, newMan, batchId)
  }

  /** The compaction horizon currently in force, if any. */
  def compactionHorizon(cfg: Config): Option[Long] =
    VersionedDir.read(cfg.stateDir, "_HORIZON").map(_.toLong)

  /** Hot ∪ cold — the complete table. */
  def readFull(spark: SparkSession, cfg: Config, table: String): Option[DataFrame] =
    (readState(spark, cfg, table), readState(spark, cfg, s"$table.cold")) match {
      case (Some(h), Some(c)) => Some(h.unionByName(c))
      case (h, c) => h.orElse(c)
    }

  /** Start the maintenance query over a message stream. */
  def start(messages: DataFrame, cfg: Config,
            checkpointDir: String,
            trigger: Trigger = Trigger.ProcessingTime("10 seconds")): StreamingQuery =
    FoldStream.start(messages, checkpointDir, trigger)(foldBatch(_, _, cfg))
}

/** [[StarPipeline]]'s parquet+manifest store as a [[StarSink]]: a fold
  * writes each output table's touched buckets into a fresh version dir
  * and commits the new manifest with one `_CURRENT` rename
  * ([[VersionedDir]]). A bucket a pre-horizon arrival touched is read
  * hot ∪ cold and its cold entries drop, so it un-compacts. There is no
  * progress mark: a replayed batch id folds again into fresh dirs, which
  * the kernel's message dedup makes a no-op. Single-writer; swap in
  * Delta/Iceberg for multi-writer.
  */
object ManifestStarSink extends StarSink {
  import StarPipeline.{Config, ManifestMap, Outputs, readManifest}

  private[streaming] def committed(cfg: Config, batchId: Long,
                                   bitemporal: Boolean): Boolean = false

  private[streaming] def horizon(cfg: Config): Option[Long] =
    StarPipeline.compactionHorizon(cfg)

  /** `tbl`'s cold entries in the `late` buckets; a cold manifest key is
    * "<bucket>-<version dir>". */
  private def coldOf(man: ManifestMap, tbl: String, late: Set[Long]) =
    man.getOrElse(s"$tbl.cold", Map.empty)
      .filter { case (k, _) => late.contains(k.takeWhile(_ != '-').toLong) }

  // ONLY the touched buckets — hot, plus cold for the buckets a late
  // arrival un-compacts — read with the schema the step knows, so no
  // job runs to infer it from the files
  private[streaming] def prior(spark: SparkSession, cfg: Config, tbl: String,
                               schema: StructType, touched: Seq[Long],
                               late: Set[Long]): Option[DataFrame] = {
    val man = readManifest(cfg.stateDir)
    val paths = (touched
      .flatMap(k => man.getOrElse(tbl, Map.empty).get(k.toString)) ++
      coldOf(man, tbl, late).values).map(p => s"${cfg.stateDir}/$p")
    if (paths.isEmpty) None
    else Some(spark.read.schema(schema).parquet(paths: _*))
  }

  // every output table in one write, then one manifest swap
  private[streaming] def persist(cfg: Config, batchId: Long,
                                 bitemporal: Boolean, outputs: Outputs,
                                 touched: Seq[Long], late: Set[Long]): Unit = {
    val man = readManifest(cfg.stateDir)
    val (dir, present) =
      StarPipeline.writeVersion(cfg, man, batchId, outputs.rows)
    val newMan = outputs.tables.foldLeft(man) { case (m, (tbl, _, _)) =>
      val in = present.getOrElse(tbl, Set.empty[Long])
      // an emptied touched bucket drops its manifest entry
      val hot = touched.foldLeft(m.getOrElse(tbl, Map.empty)) { (tm, k) =>
        if (in.contains(k)) tm.updated(k.toString, StarPipeline.bucketPath(dir, tbl, k))
        else tm - k.toString
      }
      // un-compacted buckets' cold rows are folded into hot now
      m.updated(tbl, hot).updated(s"$tbl.cold",
        m.getOrElse(s"$tbl.cold", Map.empty) -- coldOf(man, tbl, late).keys)
    }
    StarPipeline.writeManifest(cfg, newMan, batchId)
  }

  // readFull (hot ∪ cold): the sink contract is "the state as of the
  // last fold", which after a compaction spans both tiers; before any
  // compaction the cold side is absent and this is readState exactly.
  def read(spark: SparkSession, cfg: Config,
           table: String): Option[DataFrame] =
    StarPipeline.readFull(spark, cfg, table)
}
