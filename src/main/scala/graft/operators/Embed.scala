package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions._

/** Text → vector via feature hashing (Weinberger et al. 2009, the
  * "hashing trick"): each token hashes to a bucket in [0, dim) with a
  * ±1 sign hash; a document's vector is the signed bucket-count
  * vector. A real (if simple) embedder — it preserves cosine
  * similarity of bag-of-words profiles — and the missing link between
  * the text corpus and the ANN stack: embed → index → search runs end
  * to end from raw text (q121).
  *
  * Engine-portable by construction: the vector is EXACT INTEGER
  * counts (carried as doubles), both hashes are the portable
  * poly-hash, and normalization is deferred to the consumer (the ANN
  * cosine divides by norms anyway). Zero shuffle beyond one
  * pre-reduced (doc, bucket) aggregate; assembly to the dense array
  * is an in-row map lookup.
  */
object Embed {

  /** (idCol, `emb` array<double> of length dim) — one row per input
    * id (callers pass id-unique inputs: parquet doc_ids, injective
    * chunk ids): a doc whose text is null or tokenless comes back as
    * the ZERO vector rather than vanishing — a silent row drop here
    * would shrink every downstream join with no signal. Callers that
    * want such docs out filter on the norm (as q121 does for
    * sign-cancelled zero vectors anyway). Neural embedders plug in at
    * the same seam ([[Multimodal]]'s batched mapPartitions); this one
    * needs no model artifact.
    *
    * ZERO Exchange by construction (round 16, guide §2.4): the signed
    * bucket-count vector is a pure function of the row's own token
    * array, so the explode → groupBy(doc,b) → groupBy(doc) → join-back
    * shape this used to run (3 Exchanges + a map build for a per-row
    * computation) is replaced by one in-row fold: hash each token once
    * into a (bucket, sign) struct, then accumulate into a dim-length
    * long array. Integer addition commutes, so the sums are bit-equal
    * to the grouped formulation. The kernel is the native
    * [[graft.functions.HashEmbed]] expression (one generated static
    * call per row — HOFs would fall out of whole-stage codegen), so
    * every embed pass (q121/q122/q164/q170/q195/q204/q228 and the ANN
    * build loops that re-scan embeds) is a shuffle-free scan.
    */
  def hashEmbed(docs: DataFrame, idCol: String, textCol: String,
                dim: Int): DataFrame = {
    require(dim >= 2, "dim >= 2")
    docs.select(col(idCol).as("doc_id"),
      graft.functions.HashEmbed.hashEmbedVec(col(textCol), dim)
        .as("emb"))
  }

  /** Contrastive training triples for an embedder: (anchor, positive,
    * negative) where positives are MinHash-LSH near-dup pairs (the
    * q21 candidate machinery — genuinely similar text) and each
    * anchor's negative is drawn by a DETERMINISTIC random pick: the
    * ids of all EMBEDDABLE docs (non-null text — mirroring what the
    * positive side can pair) sorted into a ring by a salted portable
    * hash, and the anchor takes its ring-successor (its successor's
    * successor when that collides with the positive). On a degenerate
    * 2-doc corpus even the fallback wraps to the anchor itself — such
    * triples are dropped rather than emitted (N ≥ 3 always yields a
    * valid negative). No RNG state: the triples are reproducible
    * across runs, engines, and retries, which is what makes a
    * regenerated training set diff-able against the last one.
    *
    * Scale shape: positives ride the bucketed LSH candidate chain
    * (never all-pairs); the ring is ONE distributed sort of the
    * skinny (id, tag) table ([[Ranking.globalRowNumber]]) plus
    * id-keyed equi-joins; N rides a 1-row broadcast.
    */
  def contrastiveTriples(docs: DataFrame, idCol: String,
                         textCol: String, shingleN: Int, numPerm: Int,
                         bands: Int, estThreshold: Double,
                         maxBucketSize: Int): DataFrame = {
    val pos = Dedup.minhashLsh(docs, idCol, textCol,
        shingleN = shingleN, numPerm = numPerm, bands = bands,
        estThreshold = estThreshold, maxBucketSize = maxBucketSize)
      .select(col("doc_a").as("anchor"), col("doc_b").as("positive"),
        col("est_jaccard"))
    // pinned once: the ring feeds both successor joins AND the count
    // — without the checkpoint each consumer re-runs the distributed
    // global sort (the CurationStream.select lesson)
    val ring = Ranking.globalRowNumber(
        docs.filter(col(textCol).isNotNull)
          .select(col(idCol).as("doc_id"),
            charPolyHash(concat(col(idCol).cast("string"),
              lit("|neg"))).as("nh")),
        Seq(col("nh"), col("doc_id")), "pos")
      .select("doc_id", "pos")
      .localCheckpoint(false)
    val nDf = ring.agg(count(lit(1)).as("nn"))
    val r = ring.crossJoin(broadcast(nDf))
    def succ(off: Int, out: String) =
      r.select(col("doc_id").as("anchor"),
          (pmod(col("pos") + lit(off - 1), col("nn")) + 1).as("tpos"))
        .join(ring.select(col("pos").as("tpos"),
          col("doc_id").as(out)), Seq("tpos"))
        .select("anchor", out)
    pos.join(succ(1, "neg1"), Seq("anchor"))
      .join(succ(2, "neg2"), Seq("anchor"))
      .select(col("anchor"), col("positive"),
        when(col("neg1") === col("positive"), col("neg2"))
          .otherwise(col("neg1")).as("negative"),
        col("est_jaccard"))
      .filter(col("negative") =!= col("anchor"))
  }
}
