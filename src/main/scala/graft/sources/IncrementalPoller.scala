package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.streaming.VersionedDir

/** S1/S6: incremental scan of an append-only upstream table with a
  * durable progress pointer — the reference's IDS polling loop (ref:
  * hl7-reader/.../IdsOperations.java:351-477: read rows with
  * `unid > lastProcessed` in batches, process, then persist progress).
  *
  * The upstream is any DataFrame (here parquet; in production a JDBC
  * source — `unid > progress` pushes down as a predicate and `unid`
  * doubles as the partitionColumn for parallel reads). Progress commits
  * AFTER the batch's effects are durable, so a crash between poll and
  * commit re-delivers the batch: at-least-once, made exactly-once by
  * the kernel's idempotent fold (W2) downstream.
  *
  * Scale: the poll filter is a pushed-down range predicate on an
  * increasing column — each poll reads only the new tail regardless of
  * table size; the `limit` bounds per-batch work (the reference's batch
  * size), and ordering only the new tail keeps the sort trivial.
  */
class IncrementalPoller(progressDir: String, idCol: String) {

  def lastProgress: Option[Long] =
    VersionedDir.read(progressDir, "_PROGRESS").map(_.toLong)

  /** New rows strictly after the committed pointer, oldest first,
    * at most `batchSize` of them.
    */
  def poll(table: DataFrame, batchSize: Int): DataFrame = {
    val since = lastProgress.getOrElse(Long.MinValue)
    table.filter(col(idCol) > since).orderBy(col(idCol)).limit(batchSize)
  }

  /** Durably record that every row with id <= upTo is processed
    * ([[VersionedDir.commit]], the pointer swap every persisted family
    * shares).
    */
  def commit(upTo: Long): Unit =
    VersionedDir.commit(progressDir, "_PROGRESS", upTo.toString)

  /** Drain the upstream: poll → handle → commit, until a poll returns
    * fewer than batchSize rows. `handle` must make its effects durable
    * before returning (progress is committed right after it).
    */
  def drain(table: DataFrame, batchSize: Int)(handle: DataFrame => Unit): Long = {
    var total = 0L
    var more = true
    while (more) {
      val batch = poll(table, batchSize).localCheckpoint()
      val n = batch.count()
      if (n > 0) {
        handle(batch)
        commit(batch.agg(max(col(idCol))).head().getLong(0))
      }
      total += n
      more = n == batchSize
    }
    total
  }
}
