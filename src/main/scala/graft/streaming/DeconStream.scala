package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery
import graft.operators.TextAnalysis

/** Streamed FUZZY decontamination — the continuous-ingest shape of
  * [[graft.operators.TextAnalysis.fuzzyDecontaminateIncremental]]:
  * the benchmark's MinHash signature index is built ONCE
  * ([[graft.operators.TextAnalysis.buildFuzzyBenchmarkIndex]]), then
  * every training micro-batch folds against it through the real
  * streaming engine and appends its per-doc report as a
  * `batch=<id>/` parquet layer.
  *
  * Per-doc results are independent, so the union of the layers equals
  * the one-shot [[graft.operators.TextAnalysis.fuzzyDecontaminate]]
  * run exactly (the q91/q187 property) — q197 checks the STREAMED
  * fold under q186's verbatim oracle. Each layer writes
  * mode("overwrite") keyed by the engine's batch id, so an
  * at-least-once replay rewrites the same rows instead of duplicating
  * them (the [[RagStream]]/[[StarPipeline]] idempotence discipline).
  */
object DeconStream {

  def start(stream: DataFrame, benchIndexDir: String, outDir: String,
            checkpointDir: String, idCol: String, textCol: String,
            shingleN: Int = 2, numPerm: Int = 64, bands: Int = 8,
            threshold: Double = 0.8, seed: Long = 42L): StreamingQuery =
    FoldStream.start(stream, checkpointDir)(foldBatch(_, _, benchIndexDir,
      outDir, idCol, textCol, shingleN, numPerm, bands, threshold, seed))

  /** One micro-batch fold — exposed for batch-mode reuse and replay
    * testing (same code path the stream runs).
    */
  def foldBatch(batch: DataFrame, batchId: Long, benchIndexDir: String,
                outDir: String, idCol: String, textCol: String,
                shingleN: Int = 2, numPerm: Int = 64, bands: Int = 8,
                threshold: Double = 0.8, seed: Long = 42L): Unit =
    TextAnalysis.fuzzyDecontaminateIncremental(batch.sparkSession,
        benchIndexDir, batch, idCol, textCol, shingleN, numPerm, bands,
        threshold, seed)
      .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
}
