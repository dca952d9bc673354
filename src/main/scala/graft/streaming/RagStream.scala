package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.operators.{Ann, Embed, TextAnalysis}

/** Structured-Streaming front end for the RAG ingestion vertical
  * (q164 batch-composed; q165 through the actual streaming engine):
  * each micro-batch of documents is chunked ([[TextAnalysis
  * .chunkWindows]]), hash-embedded per chunk ([[Embed.hashEmbed]]),
  * and appended to the persisted SQ8 code index ([[Ann
  * .sq8IndexAppend]]) as one layer per micro-batch id.
  *
  * Batching-independence by construction: chunking is per-DOC pure,
  * the embedding per-CHUNK pure, int8 quantization per-VECTOR (each
  * scales against its own max|x|), the optional quality gate
  * ([[Config.funnel]]) per-DOC pure, and the coarse assignment a pure
  * function of the chunk (modular id, or argmax against FROZEN
  * centroids), so the streamed index answers queries verbatim-equal
  * to the one-shot build no matter how the corpus split into
  * micro-batches — and a replayed batch id overwrites its OWN layer
  * (the [[RetrievalStream]] / [[LexicalStream]] idempotence contract).
  */
object RagStream {

  /** The per-document quality gate parameters ([[TextAnalysis
    * .qualityKeep]]'s knobs) — production RAG ingestion drops
    * boilerplate/off-language docs BEFORE paying for chunking,
    * embedding, and index bytes (the q157/q162 funnel applied at the
    * cheapest point of this vertical).
    */
  case class Funnel(langs: Seq[String], minTokens: Long = 5L,
                    maxTokens: Long = 100000L, maxStop10k: Long = 5000L,
                    minAvgLen10: Long = 30L, maxAvgLen10: Long = 100L)

  /** @param clusterMod coarse cluster = chunk_id % clusterMod when no
    *   trained centroids are supplied — the modular assignment keeps
    *   the oracle replay trivial but has NO geometric locality (probed
    *   pruning over it has arbitrary recall on real data); supply
    *   `centroids` for production shape.
    * @param centroids coarse centroids FROZEN at index creation
    *   (standard IVF practice — retraining means rebuilding): chunks
    *   assign to their rounded-cosine argmax ([[Ann.cosineCluster]],
    *   engine-portable), queries probe their nearest centroids
    *   ([[Ann.cosineProbes]]). Train once on the first corpus slice
    *   via [[Ann.ivfTrainPortable]] (sampled — the q136 pattern).
    * @param funnel optional per-doc quality gate run BEFORE chunking.
    * @param baseBatchId Structured Streaming micro-batch ids are
    *   0-based, layer ids start at 1 — id 0 would trip the absorbed
    *   high-water guard (the [[RetrievalStream]] convention).
    */
  case class Config(indexDir: String, idCol: String, textCol: String,
                    windowTokens: Int = 16, strideTokens: Int = 12,
                    dim: Int = 32, chunkIdScale: Long = 100L,
                    clusterMod: Long = 4L, baseBatchId: Long = 1L,
                    centroids: Option[Seq[Seq[Double]]] = None,
                    funnel: Option[Funnel] = None)

  /** The coarse assignment for a chunk row of [[encodeBatch]] output:
    * frozen-centroid rounded-cosine argmax when centroids exist,
    * chunk_id mod otherwise. Pure per-row either way — the batching-
    * independence invariant does not depend on which.
    */
  def clusterOf(cfg: Config): Column = cfg.centroids match {
    case Some(cents) =>
      Ann.cosineCluster(col("emb"), cents).cast("long")
    case None => pmod(col("doc_id"), lit(cfg.clusterMod))
  }

  /** The probe set for a query row (same columns): the nProbe nearest
    * frozen centroids, or the modular own+next convention.
    */
  def probesOf(cfg: Config, nProbe: Int): Column = cfg.centroids match {
    case Some(cents) => Ann.cosineProbes(col("emb"), cents, nProbe)
    case None => array_distinct(array(
      (0 until nProbe).map(i =>
        pmod(col("doc_id") + lit(i.toLong), lit(cfg.clusterMod))): _*))
  }

  /** Chunk + embed one batch — the shared per-batch transform (also
    * the one-shot build path): (doc_id = chunk id, emb), zero-vector
    * chunks dropped (no direction to quantize), funnel-failing docs
    * dropped first when configured.
    */
  def encodeBatch(batch: DataFrame, cfg: Config): DataFrame = {
    // NOT repartitioned here on purpose: a blanket spread-the-source
    // shuffle was MEASURED as a regression across the RAG lanes
    // (q170 8.8→16.8 s — every fold/query/training pass paid an
    // extra exchange), while the one genuinely single-partition
    // source (q195's wire parse) is fixed at ITS source. Spread
    // upstream where a narrow source is known, not in the shared
    // transform.
    val gated = cfg.funnel.fold(batch) { f =>
      batch.filter(TextAnalysis.qualityKeep(col(cfg.textCol), f.langs,
        f.minTokens, f.maxTokens, f.maxStop10k, f.minAvgLen10,
        f.maxAvgLen10))
    }
    // loud per-row guard: chunk_id = doc_id·scale + idx is only
    // injective while idx < scale — a silent collision would merge
    // two unrelated chunks' features into one garbage embedding (and
    // break the batching-independence invariant when the colliding
    // docs land in different micro-batches)
    val chunks = TextAnalysis.chunkWindows(gated, cfg.idCol, cfg.textCol,
        cfg.windowTokens, cfg.strideTokens)
      .withColumn("chunk_id", expr(
        s"CASE WHEN chunk_idx >= ${cfg.chunkIdScale}L THEN " +
          "CAST(raise_error('RagStream: doc ' || doc_id || " +
          s"' has chunk_idx ' || chunk_idx || ' >= chunkIdScale " +
          s"${cfg.chunkIdScale} — chunk ids would collide across " +
          "docs; raise chunkIdScale') AS BIGINT) " +
          s"ELSE doc_id * ${cfg.chunkIdScale}L + chunk_idx END"))
    // round 17: the zero-vector drop via the native vec_dot self-dot —
    // same IEEE left-fold sum of squares as the old `aggregate` HOF
    // (which was CodegenFallback and broke codegen for the whole
    // encode projection); identical row set by identical arithmetic
    Embed.hashEmbed(chunks, "chunk_id", "chunk_text", cfg.dim)
      .filter(graft.functions.VectorOps.vecDot(col("emb"), col("emb")) > 0)
  }

  /** Fold ONE micro-batch into the SQ8 index as layer
    * `baseBatchId + batchId` — O(batch), one layer.
    */
  def foldBatch(batch: DataFrame, batchId: Long, cfg: Config): Unit =
    Ann.sq8IndexAppend(encodeBatch(batch, cfg), "doc_id", "emb",
      clusterOf(cfg), cfg.indexDir, cfg.baseBatchId + batchId)

  /** Start the streaming ingest over a document stream. */
  def start(stream: DataFrame, cfg: Config,
            checkpointDir: String): StreamingQuery =
    FoldStream.start(stream, checkpointDir)(foldBatch(_, _, cfg))
}
