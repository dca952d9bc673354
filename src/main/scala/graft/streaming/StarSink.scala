package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import java.sql.{Connection, DriverManager}
import java.util.Properties

/** S8's production seam: the storage a folded micro-batch lands in.
  * The fold itself — pin the batch, probe its touched and late buckets,
  * run the axis's kernel step, release the pins — is one body for every
  * sink and both temporal axes ([[StarPipeline.foldWith]]; [[fold]] and
  * [[foldBitemporal]] call it). A sink supplies only what differs
  * between a lakehouse and the reference's RDBMS star (core/.../informdb
  * via JPA, batched writes on a 2-connection pool): how a fold reads the
  * touched prior state of a table, how it persists the step's outputs
  * atomically, and whether a batch is already committed.
  *
  *  - [[ManifestStarSink]] — the engine's native parquet+manifest
  *    store: bucket-granular rewrite into fresh version dirs, atomicity
  *    via one `_CURRENT` pointer commit ([[VersionedDir]]), no progress
  *    mark (a replay refolds to the same state).
  *  - [[JdbcStarSink]] — the RDBMS path the reference ships
  *    (Emap-Core's postgres star): touched state read back over JDBC
  *    with bucket predicates pushed down, outputs staged via Spark's
  *    parallel JDBC writer and swapped in with ONE driver-side
  *    transaction whose progress row makes a replay an exact no-op.
  *
  * Both sinks fold the SAME batch to the SAME state on BOTH temporal
  * axes (asserted in `PipelineSpec`), so the choice is an ops
  * decision, not a semantics one. Storage calls take the fold's
  * `touched` bucket ids (ascending) and the `late` ones among them,
  * which hold an arrival from before [[horizon]].
  */
trait StarSink {
  /** Read a state table ("history" | "live" | "audit" |
    * "bt_messages" | "bt_table") as of the last committed fold; None
    * before the first fold of the owning axis.
    */
  def read(spark: SparkSession, cfg: StarPipeline.Config,
           table: String): Option[DataFrame]

  /** Has this sink already committed `batchId` on this axis? The fold
    * then does nothing. */
  private[streaming] def committed(cfg: StarPipeline.Config, batchId: Long,
                                   bitemporal: Boolean): Boolean

  /** The valid time below which rows may sit in a compacted cold tier;
    * None for a store without one. */
  private[streaming] def horizon(cfg: StarPipeline.Config): Option[Long]

  /** Table `tbl`'s prior state in the touched buckets (hot ∪ cold in the
    * late ones), read with `schema`; None before the table has rows. */
  private[streaming] def prior(spark: SparkSession, cfg: StarPipeline.Config,
                               tbl: String, schema: StructType,
                               touched: Seq[Long],
                               late: Set[Long]): Option[DataFrame]

  /** Persist a kernel step's outputs — each table's rows in the touched
    * buckets, with its row identity keys — so a reader sees all of them
    * or none, and mark `batchId` committed where the store keeps
    * progress. */
  private[streaming] def persist(cfg: StarPipeline.Config, batchId: Long,
                                 bitemporal: Boolean,
                                 outputs: StarPipeline.Outputs,
                                 touched: Seq[Long], late: Set[Long]): Unit

  /** Fold one micro-batch into persisted valid-axis state (S8/W1/W2
    * contract: incremental in touched keys, idempotent on replay,
    * atomic swap). Tables: "history" | "live" | "audit".
    */
  final def fold(batch: DataFrame, batchId: Long,
                 cfg: StarPipeline.Config): Unit =
    StarPipeline.foldWith(batch, batchId, cfg, this, bitemporal = false)

  /** Fold one micro-batch into persisted BITEMPORAL state — the
    * stored-time axis the reference's audit contract requires
    * (ref informdb/AuditCore.java:32-35: superseded rows get
    * validUntil AND storedUntil stamped; records once stored-closed
    * are immutable). Tables: "bt_messages" | "bt_table". Same
    * incremental / idempotent / atomic contract as [[fold]].
    */
  final def foldBitemporal(batch: DataFrame, batchId: Long,
                           cfg: StarPipeline.Config): Unit =
    StarPipeline.foldWith(batch, batchId, cfg, this, bitemporal = true)
}

/** JDBC MERGE sink: maintains the star in an RDBMS (the reference's
  * deployment shape). Smoke-tested against embedded Derby (the one
  * JDBC engine on Spark's own classpath); the SQL is ANSI
  * MERGE/EXISTS, portable to postgres 15+.
  *
  * Storage path per fold — no driver-side row loop anywhere:
  *   1. `spark.read.jdbc` the touched buckets of the prior state, one
  *      predicate per bucket → one parallel JDBC partition each, the
  *      bucket filter pushed down to the DB's index;
  *   2. stage per-table touched-bucket rows to `*_STAGE` tables via
  *      Spark's parallel JDBC writer (executors write). Stage tables
  *      are created ONCE (first batch) and TRUNCATE-and-append
  *      thereafter — `mode("overwrite")` would DROP/CREATE per batch,
  *      i.e. DDL plus implicit commits outside the main transaction
  *      on every fold;
  *   3. ONE driver transaction: per table an anti-join DELETE (rows
  *      of touched buckets absent from the new fold — covers run
  *      coalescing and emptied buckets) + a MERGE upsert from stage,
  *      then the progress mark — committed together, so a crash
  *      leaves either the old fold or the new one, never a mix, and
  *      the progress row makes replays exact no-ops (the kernel
  *      makes them no-ops anyway; the mark just skips the work).
  *
  * Scale notes: stage writes and state reads are executor-parallel;
  * the driver runs O(tables) set-based statements per batch. The DB
  * needs an index on (__bucket) and the MERGE keys, which is the
  * same physical design the reference's JPA schema declares. String
  * columns are forced to VARCHAR (Spark's Derby dialect would pick
  * CLOB, which Derby refuses to compare in MERGE ... ON).
  *
  * Bitemporal MERGE identities: `bt_messages` rows are keyed by the
  * message identity (key, validFrom, tie) — the log only ever grows;
  * `bt_table` rows by (key, validFrom, tie, stored_from_us) — a
  * version RECORD opened at a stored stamp. Closing a record is a
  * MATCHED update of stored_until_us; a changed version closes its
  * old record and opens a new one at the batch stamp, so no identity
  * is ever rewritten — the immutability the stored axis promises.
  *
  * @param url  JDBC url (e.g. `jdbc:derby:/path/db;create=true`).
  * @param star table-name prefix for this star, e.g. "conditions" →
  *             CONDITIONS_HISTORY / _LIVE / _AUDIT /
  *             _BT_MESSAGES / _BT_TABLE (+ _STAGE twins). Empty
  *             (default) derives the prefix per fold from the config's
  *             `stateDir` last path segment — ONE sink instance then
  *             hosts every family of a multi-star pipeline
  *             ([[WirePipeline]] folds adt/labs/conditions/… through a
  *             single sink, each family landing in its own table set,
  *             exactly as the reference's controllers share one
  *             postgres star).
  */
object JdbcStarSink {
  /** Spark's Derby dialect maps StringType → CLOB, which Derby refuses
    * to compare in MERGE ... ON — and, subtler, appends of NULL string
    * values die even against our VARCHAR stage tables, because
    * `savePartition`'s `setNull` passes the DIALECT's jdbc type id
    * (CLOB) regardless of the actual column type. The
    * `createTableColumnTypes` hints fix creation but not that null
    * path, so register (once per JVM) a derby dialect that answers
    * VARCHAR for strings; everything else falls through to the
    * defaults. Postgres and other URLs are untouched (`canHandle`).
    */
  private val dialectRegistered =
    new java.util.concurrent.atomic.AtomicBoolean(false)
  private[streaming] def ensureDerbyDialect(): Unit =
    if (dialectRegistered.compareAndSet(false, true))
      org.apache.spark.sql.jdbc.JdbcDialects.registerDialect(
        DerbyVarcharDialect)

  private object DerbyVarcharDialect
      extends org.apache.spark.sql.jdbc.JdbcDialect {
    import org.apache.spark.sql.jdbc.JdbcType
    import org.apache.spark.sql.types._
    override def canHandle(url: String): Boolean =
      url.startsWith("jdbc:derby")
    override def getJDBCType(dt: DataType): Option[JdbcType] = dt match {
      case StringType =>
        Some(JdbcType("VARCHAR(1024)", java.sql.Types.VARCHAR))
      // Derby has no BIT/BYTE; these mirror Spark's DerbyDialect, which
      // this registration shadows for the write path
      case BooleanType =>
        Some(JdbcType("BOOLEAN", java.sql.Types.BOOLEAN))
      case ByteType =>
        Some(JdbcType("SMALLINT", java.sql.Types.SMALLINT))
      case _ => None
    }
  }
}

final class JdbcStarSink(url: String, star: String = "",
                         driver: String =
                           "org.apache.derby.jdbc.EmbeddedDriver")
    extends StarSink {

  if (url.startsWith("jdbc:derby")) JdbcStarSink.ensureDerbyDialect()

  /** Table-name prefix for this fold: the fixed constructor prefix, or
    * (family mode) the config's stateDir leaf, sanitized to a SQL
    * identifier. "state/condition_visits" → CONDITION_VISITS.
    */
  private def prefix(cfg: StarPipeline.Config): String =
    (if (star.nonEmpty) star
     else cfg.stateDir.replaceAll("[/\\\\]+$", "")
       .split("[/\\\\]").last)
      .replaceAll("[^A-Za-z0-9_]", "_").toUpperCase

  private def target(cfg: StarPipeline.Config, t: String) =
    s"${prefix(cfg)}_${t.toUpperCase}"
  private def stage(cfg: StarPipeline.Config, t: String) =
    target(cfg, t) + "_STAGE"
  private def progressTable(cfg: StarPipeline.Config, bitemporal: Boolean) =
    s"${prefix(cfg)}_${if (bitemporal) "BT_" else ""}PROGRESS"

  private def props: Properties = {
    val p = new Properties()
    p.setProperty("driver", driver)
    p
  }

  private def q(id: String) = "\"" + id + "\""

  private def withConn[A](f: Connection => A): A = {
    Class.forName(driver)
    val c = DriverManager.getConnection(url)
    try f(c) finally c.close()
  }

  private def tableExists(c: Connection, name: String): Boolean = {
    val rs = c.getMetaData.getTables(null, null, name, null)
    try rs.next() finally rs.close()
  }

  /** Null-safe key equality between stage alias `s` and the target
    * table (referenced by name — Derby's DELETE has no alias).
    */
  private def keyEq(t: String, keys: Seq[String]): String =
    keys.map(k =>
      s"""(S.${q(k)} = $t.${q(k)} OR (S.${q(k)} IS NULL AND $t.${q(k)} IS NULL))""")
      .mkString(" AND ")

  private[streaming] def committed(cfg: StarPipeline.Config, batchId: Long,
                                   bitemporal: Boolean): Boolean =
    withConn { c =>
      val progressTbl = progressTable(cfg, bitemporal)
      tableExists(c, progressTbl) && {
        val rs = c.createStatement().executeQuery(
          s"""SELECT MAX("batch_id") FROM $progressTbl""")
        try rs.next() && rs.getLong(1) >= batchId && !rs.wasNull()
        finally rs.close()
      }
    }

  /** No cold tier: every row stays in its bucket. */
  private[streaming] def horizon(cfg: StarPipeline.Config): Option[Long] =
    None

  /** One pushed-down predicate per touched bucket (one parallel JDBC
    * partition each); None before the table exists. */
  private[streaming] def prior(spark: SparkSession, cfg: StarPipeline.Config,
                               t: String, schema: StructType,
                               touched: Seq[Long],
                               late: Set[Long]): Option[DataFrame] =
    if (!withConn(tableExists(_, target(cfg, t)))) None
    else Some(spark.read.jdbc(url, target(cfg, t),
        touched.map(k => s"""${q("__bucket")} = $k""").toArray, props)
      .drop("__bucket"))

  /** Stage `df` into the family's stage table: CREATE (with VARCHAR
    * hints) on first use, TRUNCATE + parallel append thereafter — no
    * DDL per batch.
    */
  private def stageTable(cfg: StarPipeline.Config, t: String,
                         df: DataFrame): Unit = {
    def varcharHints: String =
      df.schema.fields.collect {
        case f if f.dataType == org.apache.spark.sql.types.StringType =>
          s"`${f.name}` VARCHAR(1024)"
      }.mkString(", ")
    val exists = withConn { c =>
      val e = tableExists(c, stage(cfg, t))
      if (e) c.createStatement()
        .executeUpdate(s"TRUNCATE TABLE ${stage(cfg, t)}")
      e
    }
    if (exists) df.write.mode("append").jdbc(url, stage(cfg, t), props)
    else df.write.mode("errorifexists")
      .option("createTableColumnTypes", varcharHints)
      .jdbc(url, stage(cfg, t), props)
  }

  /** Stage every output table, then swap them in with one driver
    * transaction of per-table anti-join DELETE + MERGE from stage plus
    * the progress mark, committed together. */
  private[streaming] def persist(cfg: StarPipeline.Config, batchId: Long,
                                 bitemporal: Boolean,
                                 outputs: StarPipeline.Outputs,
                                 touched: Seq[Long], late: Set[Long]): Unit = {
    val staged = outputs.tables.map { case (t, _, keys) =>
      val df = outputs.table(t).withColumn("__bucket", StarPipeline.bucketOf(cfg))
      stageTable(cfg, t, df)
      (t, df.columns.toSeq, keys)
    }
    val progressTbl = progressTable(cfg, bitemporal)
    withConn { c =>
      c.setAutoCommit(false)
      val st = c.createStatement()
      val inList = touched.mkString(", ")
      staged.foreach { case (t, cols, keys) =>
        val tgt = target(cfg, t)
        if (!tableExists(c, tgt))
          st.executeUpdate(
            s"CREATE TABLE $tgt AS SELECT * FROM ${stage(cfg, t)} WITH NO DATA")
        st.executeUpdate(
          s"""DELETE FROM $tgt WHERE ${q("__bucket")} IN ($inList)
             |AND NOT EXISTS (SELECT 1 FROM ${stage(cfg, t)} S
             |  WHERE ${keyEq(tgt, keys)})""".stripMargin)
        val setCols = cols.filterNot(keys.contains)
        st.executeUpdate(
          s"""MERGE INTO $tgt T USING ${stage(cfg, t)} S
             |ON ${keyEq("T", keys)}
             |WHEN MATCHED THEN UPDATE SET
             |  ${setCols.map(p => s"${q(p)} = S.${q(p)}").mkString(", ")}
             |WHEN NOT MATCHED THEN INSERT (${cols.map(q).mkString(", ")})
             |  VALUES (${cols.map(p => s"S.${q(p)}").mkString(", ")})"""
            .stripMargin)
      }
      if (!tableExists(c, progressTbl))
        st.executeUpdate(
          s"""CREATE TABLE $progressTbl ("batch_id" BIGINT)""")
      st.executeUpdate(
        s"""INSERT INTO $progressTbl ("batch_id") VALUES ($batchId)""")
      c.commit()
    }
  }

  def read(spark: SparkSession, cfg: StarPipeline.Config,
           table: String): Option[DataFrame] =
    if (!withConn(tableExists(_, target(cfg, table)))) None
    else Some(spark.read.jdbc(url, target(cfg, table), props)
      .drop("__bucket"))
}
