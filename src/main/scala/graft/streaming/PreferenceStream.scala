package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Structured-Streaming front end for the preference-pair (DPO)
  * vertical — the last batch-only vertical gets its
  * through-the-real-engine lane (the [[SftStream]] discipline):
  * labeled (prompt, positive) pairs arrive as human raters submit
  * them, mined hard-negative candidates arrive as the miner's
  * batches land — both genuinely incremental — and the assembled
  * (prompt, chosen, rejected) artifact over the folded state must be
  * IDENTICAL to the one-shot batch assembly over the same inputs.
  *
  * The design invariant (shared with [[SftStream]]/[[CurationStream]]):
  * each micro-batch fold writes only PER-ROW pure state — raw pair
  * rows and raw negative rows, one append-only layer per (kind,
  * batch). Every cross-row decision (the argmax chosen pick, the
  * preference-gap filter, the per-prompt pair ranking) happens at
  * READ time in [[graft.operators.Preference.assemble]] over the
  * merged layers, so the streamed fold equals the batch result no
  * matter how the input streams were cut.
  *
  * At-least-once semantics: an engine-replayed batch (same batchId)
  * overwrites its own layer; a row redelivered in a DIFFERENT batch
  * is collapsed by the read-side full-row distinct — both rows are
  * FACTS (a labeled pair, a mined candidate with its scores), so
  * exact duplicates are the only redelivery shape and distinct is
  * complete (no conflicting-payload case: the row IS its payload).
  *
  * Exact-arithmetic at rest: the miner's sims are persisted as the
  * s4 = round(sim·10⁴) integers and rehydrated as s4/10⁴ at read
  * time — bit-exact round trip (assemble immediately re-derives s4),
  * no accumulating float error across layers, and the layers stay
  * oracle-replayable integers.
  *
  * Scale shape: folds are O(batch) pure appends; the read-side
  * distinct is one shuffle over the SKINNY fact rows (ids + a few
  * integers — never vectors, never text); the corpus scan lives in
  * the miner upstream ([[graft.operators.Ann.hardNegativesFromIndex]]
  * at 100 TB) and in assemble's one positive-scoring pass. Layer
  * listing is bounded by the same compaction discipline as
  * [[SftStream]].
  */
object PreferenceStream {

  /** `root` holds the layers: `root/pairs/batch=<id>` and
    * `root/negatives/batch=<id>`.
    */
  case class Config(root: String)

  /** Fold ONE micro-batch of the mixed envelope stream — rows are
    * (kind, query_id, other_id, rank, sim10k, pos_sim10k) with kind ∈
    * {pair, neg}: a labeled pair uses (query_id, other_id = pos_id),
    * a mined negative uses all six (other_id = neighbor_id, sims as
    * s4 integers). One appended layer per family; O(batch).
    */
  def foldBatch(batch: DataFrame, batchId: Long, cfg: Config): Unit = {
    val b = batch.localCheckpoint(true)
    b.filter(col("kind") === "pair")
      .select(col("query_id").cast("long").as("query_id"),
        col("other_id").cast("long").as("pos_id"))
      .write.mode("overwrite")
      .parquet(s"${cfg.root}/pairs/batch=$batchId")
    b.filter(col("kind") === "neg")
      .select(col("query_id").cast("long").as("query_id"),
        col("other_id").cast("long").as("neighbor_id"),
        col("rank").cast("long").as("rank"),
        col("sim10k").cast("long").as("sim10k"),
        col("pos_sim10k").cast("long").as("pos_sim10k"))
      .write.mode("overwrite")
      .parquet(s"${cfg.root}/negatives/batch=$batchId")
  }

  /** Merged labeled-pair state: (query_id, pos_id), cross-batch
    * redelivery collapsed.
    */
  def pairsState(spark: SparkSession, cfg: Config): DataFrame =
    spark.read.parquet(s"${cfg.root}/pairs")
      .select(col("query_id"), col("pos_id")).distinct()

  /** Merged negative-candidate state in
    * [[graft.operators.Ann.hardNegatives]]' output shape — sims
    * rehydrated from the at-rest s4 integers (exact: assemble's first
    * move is round(sim·10⁴) back).
    */
  def negativesState(spark: SparkSession, cfg: Config): DataFrame =
    spark.read.parquet(s"${cfg.root}/negatives")
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        col("sim10k"), col("pos_sim10k")).distinct()
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        (col("sim10k") / 10000.0).as("sim"),
        (col("pos_sim10k") / 10000.0).as("pos_sim"))

  /** COMPACT both layer families — [[SftStream.compactLayers]], the
    * bounded-listing maintenance of the turn store: merge each family's
    * layers (exact-duplicate facts collapse — the read side's own
    * distinct) into ONE `batch=c<maxId>` layer, then delete the old
    * ones. The crash-window argument transfers verbatim: pair and
    * negative rows are FACTS, so in the window where merged and old
    * layers coexist every row is merely duplicated and
    * [[pairsState]]/[[negativesState]] collapse it — the state is
    * identical at every instant, no atomic pointer needed. A replayed
    * compacted-away batchId re-creates duplicates, collapsed again.
    * Deterministic layer name (max numeric id, 'c'-prefixed) — a
    * re-run compaction is itself idempotent. No-op below two layers.
    */
  def compact(spark: SparkSession, cfg: Config): Unit = {
    SftStream.compactLayers(spark, s"${cfg.root}/pairs",
      Seq("query_id", "pos_id"))
    SftStream.compactLayers(spark, s"${cfg.root}/negatives",
      Seq("query_id", "neighbor_id", "rank", "sim10k", "pos_sim10k"))
  }

  /** Start the streaming ingest — the [[SftStream.start]] foreachBatch
    * idiom: the fold is a parquet write, so the engine's
    * batch-replay-after-crash overwrites idempotently.
    */
  def start(stream: DataFrame, cfg: Config,
            checkpointDir: String): StreamingQuery =
    FoldStream.start(stream, checkpointDir)(foldBatch(_, _, cfg))
}
