package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.operators.Ann

/** Structured-Streaming front end for the persisted retrieval index —
  * continuous embedding ingest: each micro-batch of vectors is
  * PQ-encoded against the FROZEN quantizers (coarse centroids + PQ
  * codebooks are trained once, at index creation — standard IVF-PQ
  * practice; retraining means re-encoding) and appended as one
  * partition-pruned layer of the at-rest code index. Per-vector codes
  * are batching-independent, so the streamed index equals the
  * one-shot build regardless of micro-batch boundaries (q137 proves
  * it against the q99/q102 replay verbatim), and
  * [[graft.operators.Ann.compactVectorIndex]] bounds the layer count
  * between ingest windows.
  *
  * `foreachBatch` on purpose, like [[CurationStream]]: the fold
  * WRITES parquet layers keyed by the micro-batch id, so Structured
  * Streaming's batch-replay-after-crash overwrites its own layer
  * (idempotent) — and the `compact=` namespace plus the absorbed
  * high-water guard make replays after a compaction fail loudly
  * instead of duplicating rows.
  */
object RetrievalStream {

  /** Frozen quantizers + index location. `baseBatchId` offsets the
    * micro-batch ids into the index's layer-id space (resume an
    * appender above earlier ingest generations; micro-batch ids are
    * 0-based, layer ids start at 1 — id 0 would trip the absorbed
    * high-water guard on a fresh index).
    */
  case class Config(indexDir: String, idCol: String, vecCol: String,
                    coarse: Seq[Seq[Double]],
                    codebooks: Seq[Seq[Seq[Double]]],
                    baseBatchId: Long = 1L)

  /** Encode one micro-batch with the frozen quantizers and append it
    * as layer `baseBatchId + batchId` — O(batch), zero-shuffle encode
    * (codegen'd argmins), nothing rescans earlier layers.
    */
  def foldBatch(batch: DataFrame, batchId: Long, cfg: Config): Unit = {
    val res = Ann.ivfPqResiduals(batch, cfg.idCol, cfg.vecCol, cfg.coarse)
    val sub = cfg.codebooks.head.head.length
    val codes = res.select(col("emb_id"), col("coarse"),
      array(cfg.codebooks.zipWithIndex.map { case (cb, mi) =>
        Ann.pqCluster(slice(col("rv"), mi * sub + 1, sub), cb)
      }: _*).as("codes"))
    Ann.ivfPqIndexAppend(codes, cfg.indexDir, cfg.baseBatchId + batchId)
  }

  /** Start the streaming ingest over a vector stream. */
  def start(stream: DataFrame, cfg: Config,
            checkpointDir: String): StreamingQuery =
    FoldStream.start(stream, checkpointDir)(foldBatch(_, _, cfg))
}
