package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Structured-Streaming front end for the SFT conversation vertical:
  * chat TURNS arrive as an unbounded stream — a conversation's turns
  * routinely split across micro-batches (a session is minutes long,
  * a batch seconds) — and the assembly artifacts
  * ([[graft.operators.Conversations.spans]]/`render`/`truncate`, the
  * q219 packing, the q223 decon audit) must come out IDENTICAL to a
  * one-shot batch run over the same turns.
  *
  * The design invariant (the [[CurationStream]] discipline): each
  * micro-batch fold writes only PER-ROW pure state — the raw turn
  * rows, an append-only layer per batch. Every decision that needs
  * the WHOLE conversation (the span cumsum, the render order, the
  * truncation suffix, packing offsets) happens at READ time over the
  * merged layers, so the streamed fold equals the batch result no
  * matter how the turn stream was cut into batches.
  *
  * At-least-once semantics, two layers of defense:
  *   - an engine-replayed batch (same batchId after a crash)
  *     OVERWRITES its own layer — idempotent by construction;
  *   - the same turn REDELIVERED in a different batch (an upstream
  *     at-least-once producer) is collapsed by [[turnsState]]'s
  *     key-grouped payload dedup. A CONFLICTING redelivery — same
  *     (conv_id, turn_idx), DIFFERENT payload — raises loudly AT READ
  *     TIME inside [[turnsState]] itself, so EVERY consumer is
  *     protected (the spans/truncate path additionally carries
  *     [[graft.operators.Conversations]]' duplicate-key guard, but
  *     render/pack/decon read the same state and must never silently
  *     emit both payload versions as extra turns).
  *
  * Scale shape: the fold is O(batch) — a pure append, no read of
  * prior state; the read-side dedup+guard is ONE aggregation shuffle
  * keyed on (conv_id, turn_idx) over the skinny turn rows, after
  * which the conversation window re-partitions by conv_id. At 100 TB
  * the upgrade is bucketing layers by conv_id (the [[StarPipeline]]
  * convention) so dedup and the window share one co-partitioned
  * layout; the read-time semantics are unchanged.
  */
object SftStream {

  /** `root` holds the turn layers: `root/turns/batch=<id>`. */
  case class Config(root: String)

  private val TurnCols =
    Seq("conv_id", "turn_idx", "role", "text")

  /** Fold ONE micro-batch of turns — O(batch), one appended layer.
    * Expects (conv_id, turn_idx, role, text); ids cast to long so
    * every layer carries one schema.
    */
  def foldBatch(turns: DataFrame, batchId: Long, cfg: Config): Unit =
    turns.select(col("conv_id").cast("long").as("conv_id"),
        col("turn_idx").cast("long").as("turn_idx"),
        col("role").cast("string").as("role"),
        col("text").cast("string").as("text"))
      .write.mode("overwrite")
      .parquet(s"${cfg.root}/turns/batch=$batchId")

  /** The merged turn state: all layers grouped on (conv_id, turn_idx)
    * — exact-duplicate payloads collapse (cross-batch redelivery), and
    * a key arriving with MORE than one distinct payload raises loudly
    * here, before any consumer can render both versions as extra
    * turns. One aggregation Exchange total (the dedup IS the guard:
    * collect_set of the payload struct, size > 1 = conflict). The
    * guard rides coalesce on the projected columns so column pruning
    * can never drop it.
    */
  def turnsState(spark: SparkSession, cfg: Config): DataFrame = {
    val conflict = when(size(col("__rt")) > 1, raise_error(concat(
      lit("SftStream: conflicting redelivery — (conv_id, turn_idx)"
        + " = ("), col("conv_id"), lit(", "), col("turn_idx"),
      lit(") arrived with "), size(col("__rt")).cast("string"),
      lit(" distinct payloads"))).cast("string"))
    spark.read.parquet(s"${cfg.root}/turns")
      .select(TurnCols.map(col): _*)
      .groupBy(col("conv_id"), col("turn_idx"))
      .agg(sort_array(collect_set(struct(col("role"), col("text"))))
        .as("__rt"))
      .select(col("conv_id"), col("turn_idx"),
        coalesce(conflict, col("__rt").getItem(0).getField("role"))
          .as("role"),
        coalesce(conflict, col("__rt").getItem(0).getField("text"))
          .as("text"))
  }

  /** COMPACT the turn layers — the bounded-listing maintenance the
    * 100 TB scaladoc path promises (the vector-index compaction
    * precedent, [[graft.operators.Ann]] epochs, adapted to this
    * store's read-side semantics): merge every layer's rows
    * (exact-duplicate payloads collapse — [[turnsState]]'s own
    * arithmetic) into ONE new layer named `batch=c<maxId>`, then
    * delete the old layers. Crash-safe WITHOUT an atomic pointer
    * because the read side is idempotent by construction: in the
    * window where the merged layer and the old layers coexist, every
    * row is merely duplicated and [[turnsState]] collapses it — the
    * state is IDENTICAL at every instant of the compaction. An engine
    * replay of a compacted-away batchId re-creates its layer with the
    * same rows — duplicates again, collapsed again.
    *
    * The conflict guard is compaction-proof the same way: a
    * conflicting pair survives the merge as two rows and still
    * raises at read time.
    *
    * No-op below two layers. Deterministic layer name (the max
    * numeric id at compaction time, 'c'-prefixed) — no clock, so a
    * re-run compaction is itself idempotent.
    */
  def compactTurns(spark: SparkSession, cfg: Config): Unit =
    compactLayers(spark, s"${cfg.root}/turns", TurnCols)

  /** The layer compaction of every `batch=<id>` store ([[compactTurns]],
    * [[PreferenceStream.compact]]): merge the layers' `cols` with a
    * full-row distinct into ONE `batch=c<maxId>` layer, then delete the
    * others. No-op below two layers.
    */
  private[streaming] def compactLayers(spark: SparkSession, store: String,
                                       cols: Seq[String]): Unit = {
    val dir = new org.apache.hadoop.fs.Path(store)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return
    val layers = fs.listStatus(dir).map(_.getPath)
      .filter(_.getName.startsWith("batch="))
    if (layers.length <= 1) return
    val maxId = layers.map(_.getName.stripPrefix("batch=")
        .stripPrefix("c")).flatMap(s => scala.util.Try(s.toLong).toOption)
      .foldLeft(0L)(math.max)
    val merged = spark.read.parquet(store)
      .select(cols.map(col): _*).distinct()
      // the write below deletes what it reads via the new layer's
      // lineage — materialize first (test-scale states; at 100 TB the
      // merged write lands before any delete, same ordering)
      .localCheckpoint(true)
    merged.write.mode("overwrite").parquet(s"$store/batch=c$maxId")
    layers.filter(_.getName != s"batch=c$maxId")
      .foreach(p => fs.delete(p, true))
  }

  /** Start the streaming ingest over a turn stream — the
    * [[CurationStream.start]] foreachBatch idiom: the batch fold is a
    * parquet write, so Structured Streaming's batch-replay-after-crash
    * semantics make it idempotent.
    */
  def start(stream: DataFrame, cfg: Config,
            checkpointDir: String): StreamingQuery =
    FoldStream.start(stream, checkpointDir)(foldBatch(_, _, cfg))
}
