package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.operators.TextAnalysis

/** Structured-Streaming front end for the incremental curation chain:
  * each micro-batch of documents is gated by the PERSISTED benchmark
  * shingle index and frozen DSIR importance model, contributes its
  * per-doc state (span-window hashes, minhash signatures/buckets,
  * DSIR scores) to append-only indexes, and the selection derives
  * from the indexes alone. With the optional gates enabled the chain
  * is the FULL production curation recipe (Lee et al. 2022 +
  * RefinedWeb): decon → duplicated-span gate → near-dup
  * representative gate → DSIR top-fraction → exact mixture
  * (q126 batch-folded, q127 through the actual streaming query;
  * q110 remains the gate-free chain).
  *
  * The design invariant: per-batch folds write only PER-DOC pure
  * state; every decision needing global context (which window hashes
  * are shared, which docs pair into clusters, the top-fraction cut,
  * the mixture caps) happens in [[select]] over the merged index —
  * so the streamed fold equals the one-shot batch result regardless
  * of micro-batch boundaries (`CurationStreamSpec`; q126/q127 prove
  * the same equivalence against the one-shot DuckDB replay).
  *
  * `foreachBatch`, not a stateful operator, on purpose: the gates join
  * against at-rest parquet state and the fold WRITES parquet — the
  * same micro-batch-transaction idiom as [[StarPipeline.start]]. The
  * micro-batch id doubles as the mixture-index layer id, so Structured
  * Streaming's batch-replay-after-crash semantics make the fold
  * idempotent (a replayed batch overwrites its own layer).
  */
object CurationStream {

  /** Locations of the three persisted states + gate parameters.
    * `keepFrac10k` is the DSIR resampling fraction in parts-per-10000:
    * the SELECTION keeps the top fraction by importance score — a
    * fixed absolute score threshold would not survive a corpus change
    * (the exact-int score's scale shifts with the feature
    * distributions; measured: one corpus's maximum below another's
    * minimum), while a top-fraction is what importance RESAMPLING
    * does in the first place (Xie et al. 2023 sample by rank, not by
    * absolute score).
    */
  case class Config(benchIdx: String, dsirIdx: String, curIdx: String,
                    idCol: String, textCol: String, strataCol: String,
                    shingleN: Int = 5, deconThreshold: Double = 0.05,
                    nBuckets: Int = 65536, scale: Long = 1000000L,
                    keepFrac10k: Long = 4000L,
                    // decon gate backing state: false → `benchIdx` is
                    // the EXACT benchmark shingle-hash index (grows
                    // with the eval suite); true → `benchIdx` holds
                    // BLOOM layers ([[graft.operators.Sketches
                    // .bloomAppend]] over benchmark shingle strings) —
                    // the gate's broadcast stays ≤ mBits positions no
                    // matter how many benchmarks fold in, at the cost
                    // of false-positive drops (never false negatives:
                    // everything the exact gate drops, this drops too)
                    deconBloom: Boolean = false,
                    bloomKHashes: Int = 3, bloomMBits: Int = 65536,
                    // FUZZY decon gate (the Llama-style audit: gate
                    // the recipe on NEAR-DUP overlap with the eval
                    // suite, not just exact shingle membership — a
                    // paraphrased benchmark item slips the exact
                    // gate). Some(dir) → dir holds the benchmark's
                    // persisted MinHash signature table
                    // ([[graft.operators.TextAnalysis
                    // .buildFuzzyBenchmarkIndex]]); docs whose banded
                    // candidates reach est_jaccard ≥ fzThreshold
                    // vs ANY benchmark doc drop IN ADDITION
                    // to the exact/bloom gate. Per-doc pure against
                    // frozen state ⇒ batch-boundary invariance holds.
                    fuzzyIdx: Option[String] = None,
                    fzShingleN: Int = 2, fzNumPerm: Int = 64,
                    fzBands: Int = 8, fzThreshold: Double = 0.8,
                    // ---- full-recipe gates (None disables; the v1
                    // decon → DSIR → mixture chain is unchanged) ----
                    // duplicated-span gate (Lee et al. 2022 shape):
                    // drop docs whose fraction of `spanWindow`-token
                    // windows shared with ANOTHER doc exceeds
                    // spanMaxDupFrac10k (parts-per-10000)
                    spanIdx: Option[String] = None,
                    spanWindow: Int = 8,
                    spanMaxDupFrac10k: Long = 5000L,
                    // near-dup representative gate (RefinedWeb shape):
                    // MinHash-LSH clusters keep only their best-quality
                    // member (n_distinct DESC, id ASC)
                    nearDupIdx: Option[String] = None,
                    ndShingleN: Int = 2, ndNumPerm: Int = 64,
                    ndBands: Int = 8, ndMinMatches: Int = 8,
                    ndMaxBucket: Int = 100,
                    // image near-dup gate (the multimodal column
                    // story inside the recipe): imageHashCol names a
                    // 64-bit perceptual-hash column the batch carries
                    // (computed upstream on the codec seam —
                    // [[graft.operators.Multimodal.dhashFeatures]],
                    // or [[graft.operators.Multimodal
                    // .audioFingerprints]] for an audio column: both
                    // emit the same 64-bit family; null = doc has no
                    // media and passes); foldBatch
                    // persists (doc_id, dhash) layers under imageIdx
                    // and [[select]] keeps only the min-id member of
                    // each identical-hash group, derived from the
                    // MERGED layers so batch boundaries cannot split
                    // a duplicate group
                    imageIdx: Option[String] = None,
                    imageHashCol: String = "img_hash",
                    // 0 = identical-hash groups only; > 0 = banded-
                    // Hamming near-dup at that radius, duplicate
                    // groups = connected components (the LAION
                    // convention: a-b-c chains merge even when a and
                    // c exceed the radius)
                    imageMaxDist: Int = 0,
                    // cross-modal ALIGNMENT gate (CLIP-style
                    // image-text curation: a duplicate image is one
                    // failure mode, a MISMATCHED caption is another):
                    // alignScoreCol names a per-doc s4 alignment
                    // score the batch carries (computed upstream on
                    // the codec seam — [[graft.operators.Multimodal
                    // .alignScore10k]] over the caption hashEmbed and
                    // the image's raw luminance histogram; null = no
                    // image / no direction → passes). foldBatch
                    // persists (doc_id, align_s4) layers under
                    // alignIdx and [[select]] drops docs whose score
                    // sits below alignMin10k. Per-doc pure against
                    // the doc's own (caption, image) pair ⇒ batch-
                    // boundary invariance holds by construction.
                    alignIdx: Option[String] = None,
                    alignScoreCol: String = "align_s4",
                    alignMin10k: Long = 5000L,
                    // heuristic quality funnel (Gopher/C4 rules, the
                    // q157 gate) run FIRST in the fold — the cheapest
                    // gate in the recipe (one per-row projection),
                    // exactly where production pipelines put it. A
                    // per-doc-pure function of the doc alone, so it
                    // cannot break batch-boundary invariance. None
                    // disables.
                    funnelLangs: Option[Seq[String]] = None,
                    funnelMinTokens: Long = 20L,
                    funnelMaxStop10k: Long = 1500L,
                    funnelMinAvgLen10: Long = 39L)

  /** Fold ONE micro-batch into the curation index — O(batch): the
    * decontamination gate and the DSIR scoring broadcast their
    * persisted state, nothing rescans earlier batches. Per-doc work
    * (gating, scoring, the frozen sort hash) happens HERE; decisions
    * that need global context (the top-fraction importance cut, the
    * mixture caps) happen in [[select]] over the skinny index. Index
    * row: (doc_id, stratum, h, n_feats, contrib_sum).
    */
  def foldBatch(batch0: DataFrame, batchId: Long, cfg: Config): Unit = {
    import graft.functions.GraftFunctions.{charPolyHash, shingles, tokens}
    val s = batch0.sparkSession
    // quality funnel first: a pure per-row PREDICATE (no join, no
    // second batch scan, zero shuffle) — docs it drops never enter
    // ANY index
    val batch = cfg.funnelLangs.fold(batch0)(ls =>
      batch0.filter(TextAnalysis.qualityKeep(col(cfg.textCol), ls,
        minTokens = cfg.funnelMinTokens,
        maxStop10k = cfg.funnelMaxStop10k,
        minAvgLen10 = cfg.funnelMinAvgLen10)))
    // materialized once: the decon gate (batch shingle hashing + the
    // broadcast benchmark join) feeds up to five consumers below (span
    // layer, sig layer ×2, bucket layer, score + index write) and
    // would otherwise re-run per consumer — measured 10.5 s → 6.4 s
    // on the two sf0.1 folds (SCALING.md, the CurationStream stage
    // breakdown; probe source at commit b92e78f)
    // exact decon gate (round 16, guide §2.4): a per-row PREDICATE
    // over the broadcast eval-sized hash set — no gate aggregation, no
    // survivor join-back (the bloom variant keeps its bit-position
    // join machinery and composes as a survivor set as before)
    val exactGated =
      if (cfg.deconBloom)
        batch.join(
          TextAnalysis.bloomDecontaminateAgainst(batch,
              graft.operators.Sketches.bloomFromIndex(s, cfg.benchIdx),
              cfg.idCol, cfg.textCol, cfg.shingleN, cfg.bloomKHashes,
              cfg.bloomMBits, cfg.deconThreshold)
            .filter(!col("flagged")).select(col("doc_id").as(cfg.idCol)),
          cfg.idCol)
      else
        batch.filter(TextAnalysis.deconKeepIncremental(s, cfg.benchIdx,
          col(cfg.textCol), cfg.shingleN, cfg.deconThreshold))
    // fuzzy gate: same broadcast-benchmark shape as the exact gate
    // (the eval-sized signature table attaches to the batch's banded
    // buckets; the batch never shuffles its shingles), composed as a
    // second survivor set — a doc must pass BOTH
    val fuzzySurvivors = cfg.fuzzyIdx.map { dir =>
      TextAnalysis.fuzzyDecontaminateIncremental(s, dir, batch,
          cfg.idCol, cfg.textCol, cfg.fzShingleN, cfg.fzNumPerm,
          cfg.fzBands, cfg.fzThreshold)
        .filter(!col("contaminated"))
        .select(col("doc_id").as(cfg.idCol))
    }
    val clean = fuzzySurvivors.fold(exactGated)(
        fz => exactGated.join(fz, cfg.idCol))
      .localCheckpoint(false)
    // span-hash layer: one (doc, hash, occurrence-count) row per
    // DISTINCT window hash — per-row work, O(batch); which hashes are
    // SHARED is a global question answered in [[select]] over the
    // index. Round 16: occurrences pre-reduce INSIDE the row
    // ([[graft.functions.ShingleHashTf]] — the fused tokenize →
    // shingle → poly-hash kernel plus an in-row count), so the
    // at-rest state shrinks from O(corpus window occurrences) to
    // O(corpus distinct (doc, hash)) with the exact occurrence counts
    // carried in `cnt`; no reader consumed per-occurrence rows (span
    // CUTTING, which needs positions, is Dedup.cutDupSpans).
    cfg.spanIdx.foreach { dir =>
      clean.select(col(cfg.idCol).as("doc_id"),
          explode(graft.functions.ShingleHashTf.shingleHashTf(
            col(cfg.textCol), cfg.spanWindow)).as("w"))
        .select(col("doc_id"), col("w.h").as("wh"),
          col("w.cnt").as("cnt"))
        .write.mode("overwrite").parquet(s"$dir/batch=$batchId")
    }
    // near-dup layers: per-doc minhash signature + quality (sig/) and
    // LSH band buckets (bucket/) — per-doc pure, O(batch); pairs,
    // clusters and representatives derive from the merged index in
    // [[select]], so a cross-batch near-dup pair is found no matter
    // which fold saw which member
    cfg.nearDupIdx.foreach { dir =>
      // round 16: signature AND quality in ONE per-row projection (the
      // native MinHashSig kernel) — the old shape ran the signature
      // aggregate then joined n_distinct back onto it (an Exchange for
      // columns the same row already had). The checkpoint pins the
      // projection for its two layer writes.
      val perms = graft.operators.Dedup.minhashPerms(cfg.ndNumPerm, 42L)
      val sigged = clean.select(col(cfg.idCol).as("doc_id"),
          graft.functions.MinHashSig.minhashSig(col(cfg.textCol),
            cfg.ndShingleN, perms).as("sig"),
          size(array_distinct(tokens(col(cfg.textCol)))).cast("long")
            .as("n_distinct"))
        .filter(col("sig").isNotNull)
        .localCheckpoint(false)
      sigged.select("doc_id", "sig", "n_distinct")
        .write.mode("overwrite").parquet(s"$dir/sig/batch=$batchId")
      val rowsPerBand = cfg.ndNumPerm / cfg.ndBands
      val bandStructs = array((0 until cfg.ndBands).map { b =>
        struct(lit(b).as("band"),
          concat_ws(",", (0 until rowsPerBand).map(r =>
            col("sig").getItem(b * rowsPerBand + r)): _*).as("bucket"))
      }: _*)
      sigged.select(col("doc_id"), explode(bandStructs).as("bk"))
        .select(col("doc_id"), col("bk.band").as("band"),
          col("bk.bucket").as("bucket"))
        .write.mode("overwrite").parquet(s"$dir/bucket/batch=$batchId")
    }
    // image-hash layer: one (doc_id, dhash) row per image-carrying
    // doc — per-row, O(batch); which hashes COLLIDE is a global
    // question answered in [[select]] over the merged layers
    cfg.imageIdx.foreach { dir =>
      clean.filter(col(cfg.imageHashCol).isNotNull)
        .select(col(cfg.idCol).as("doc_id"),
          col(cfg.imageHashCol).cast("long").as("dhash"))
        .write.mode("overwrite").parquet(s"$dir/batch=$batchId")
    }
    // alignment layer: one (doc_id, align_s4) row per scored doc —
    // per-row, O(batch); the threshold cut happens in [[select]] so
    // re-gating at a different alignMin10k never refolds the corpus
    cfg.alignIdx.foreach { dir =>
      clean.filter(col(cfg.alignScoreCol).isNotNull)
        .select(col(cfg.idCol).as("doc_id"),
          col(cfg.alignScoreCol).cast("long").as("align_s4"))
        .write.mode("overwrite").parquet(s"$dir/batch=$batchId")
    }
    // round 16: the DSIR score is per-row against the frozen broadcast
    // bucket array, so the index row assembles in the SAME projection —
    // no scored-side aggregate, no doc_id equi-join (filter keeps the
    // inner join's row set: docs with no indexed feature drop)
    val dBc = TextAnalysis.dsirContribBc(s, cfg.dsirIdx, cfg.nBuckets)
    clean.select(col(cfg.idCol).as("doc_id"),
        col(cfg.strataCol).as("stratum"),
        graft.functions.GraftFunctions.charPolyHash(
          concat(col(cfg.idCol).cast("string"), lit("|"),
            col(cfg.strataCol))).as("h"),
        graft.functions.GateOps.dsirGate(col(cfg.textCol),
          cfg.nBuckets, dBc).as("__d"))
      .filter(col("__d").isNotNull)
      .select(col("doc_id"), col("stratum"), col("h"),
        col("__d").getField("n_feats").as("n_feats"),
        col("__d").getField("contrib_sum").as("contrib_sum"))
      .write.mode("overwrite").parquet(s"${cfg.curIdx}/batch=$batchId")
  }

  /** Derive the current selection from the curation index alone —
    * never rescans the corpus: rank every surviving doc by importance
    * score (identical doubles in any engine: exact-int ÷ exact-int)
    * with doc_id tie-break, keep the top `keepFrac10k` fraction
    * (exact integer count), then the exact mixture over the kept set.
    * Returns (doc_id, `strataCol`, mix_rank).
    */
  def select(spark: org.apache.spark.sql.SparkSession, cfg: Config,
             targetShare10k: Map[String, Long]): DataFrame =
    selectWithDrops(spark, cfg, targetShare10k,
      cfg.spanIdx.map(dir => spanDropSet(spark, dir, cfg)),
      cfg.nearDupIdx.map(dir => nearDupDropSet(spark, dir, cfg)),
      cfg.imageIdx.map(dir =>
        imageDropSet(spark, dir, cfg.imageMaxDist)),
      cfg.alignIdx.map(dir =>
        alignDropSet(spark, dir, cfg.alignMin10k)))

  /** [[select]] with the gate drop sets supplied by the caller —
    * [[selectReport]] computes each set once and reuses it for the
    * stage counts AND the final selection instead of re-running the
    * LSH candidate chain per consumer.
    */
  private def selectWithDrops(spark: org.apache.spark.sql.SparkSession,
                              cfg: Config,
                              targetShare10k: Map[String, Long],
                              spanDrop: Option[DataFrame],
                              ndDrop: Option[DataFrame],
                              imgDrop: Option[DataFrame] = None,
                              alignDrop: Option[DataFrame] = None)
      : DataFrame =
    mixtureOver(spark,
      gatedKept(spark, cfg, spanDrop, ndDrop, imgDrop, alignDrop),
      cfg, targetShare10k)

  /** The gated, importance-ranked kept set (doc_id, stratum, h,
    * dsir_score, imp_rank) — the recipe up to the DSIR top-fraction
    * cut, shared by the final selection and [[provenance]].
    */
  private def gatedKept(spark: org.apache.spark.sql.SparkSession,
                        cfg: Config, spanDrop: Option[DataFrame],
                        ndDrop: Option[DataFrame],
                        imgDrop: Option[DataFrame] = None,
                        alignDrop: Option[DataFrame] = None)
      : DataFrame = {
    val idx0 = spark.read.parquet(cfg.curIdx)
      .select(col("doc_id"), col("stratum"), col("h"),
        (col("contrib_sum").cast("double") /
          (col("n_feats") * lit(cfg.scale)).cast("double"))
          .as("dsir_score"))
    // gates are pure functions of the MERGED index state, so the
    // surviving set — and everything ranked after it — is independent
    // of how the corpus was split into batches
    val idx1 = spanDrop.fold(idx0)(ds =>
      idx0.join(ds, Seq("doc_id"), "left_anti"))
    val idx2a = imgDrop.fold(idx1)(ds =>
      idx1.join(ds, Seq("doc_id"), "left_anti"))
    val idx2 = alignDrop.fold(idx2a)(ds =>
      idx2a.join(ds, Seq("doc_id"), "left_anti"))
    // materialized once: the gated index feeds the keep-count AND the
    // global rank below — without this every action re-runs the gate
    // joins (and the span aggregation) over the full index
    val idx = ndDrop.fold(idx2)(ds =>
      idx2.join(ds, Seq("doc_id"), "left_anti"))
      .localCheckpoint(false)
    val total = idx.count()
    val keep = total * cfg.keepFrac10k / 10000L
    // DISTRIBUTED global rank (range sort + zipWithIndex): a
    // row_number over an unpartitioned window would pull the whole
    // index through one task — the index is skinny but still
    // corpus-cardinality rows
    // materialize the kept set ONCE: two downstream actions consume it
    // (the strata-count collect and the returned selection), and each
    // would otherwise re-run the full range-partitioned total sort +
    // zipWithIndex over the corpus-cardinality index. localCheckpoint
    // (executor-block-stored) truncates the lineage at the ranked
    // sliver — keepFrac of the index, the smallest thing to pin.
    graft.operators.Ranking.globalRowNumber(idx,
        Seq(col("dsir_score").desc, col("doc_id")), "imp_rank")
      .filter(col("imp_rank") <= lit(keep))
      .localCheckpoint(true)
  }

  /** The exact mixture over an importance-kept set — the recipe's
    * final stage, split out so [[provenance]] can run it on the SAME
    * materialized kept set it labels against.
    */
  private def mixtureOver(spark: org.apache.spark.sql.SparkSession,
                          kept: DataFrame, cfg: Config,
                          targetShare10k: Map[String, Long]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = kept.groupBy("stratum").agg(count(lit(1)).as("cs"))
      .collect().map(r => r.getString(0) -> r.getAs[Long]("cs")).toMap
    val caps = TextAnalysis.deriveCaps(counts, targetShare10k)
    import spark.implicits._
    val capsDf = caps.toSeq.sortBy(_._1).toDF("stratum", "k")
    val maxK = if (caps.isEmpty) 0L else caps.values.max
    val w = Window.partitionBy(col("stratum"))
      .orderBy(col("h"), col("doc_id"))
    kept.join(broadcast(capsDf), Seq("stratum"))
      .withColumn("mix_rank", row_number().over(w).cast("long"))
      .filter(col("mix_rank") <= lit(maxK) && col("mix_rank") <= col("k"))
      .select(col("doc_id"), col("stratum").as(cfg.strataCol),
        col("mix_rank"))
  }

  /** The curation FUNNEL — per-stage counts, the observability
    * surface a production pipeline alarms on (a gate suddenly eating
    * 40% of a batch is a data bug long before eval notices). Stages:
    * a_indexed (post-decon docs in the index), b_span_drop /
    * c_neardup_drop (each gate's drop-set size — a doc both gates
    * reject counts in both), d_gated (survivors), e_dsir_kept (the
    * top-fraction), f_selected (after mixture caps). Recomputes the
    * gate sets (report use is occasional; persist the drop sets if
    * alarming every batch).
    */
  def selectReport(spark: org.apache.spark.sql.SparkSession, cfg: Config,
                   targetShare10k: Map[String, Long]): DataFrame = {
    import spark.implicits._
    val idx0 = spark.read.parquet(cfg.curIdx).select("doc_id")
    val nIndexed = idx0.count()
    // each drop set is computed ONCE (pinned by localCheckpoint) and
    // feeds its stage count, the gated count, AND the final selection
    // — the LSH candidate chain + components loop must not re-run per
    // consumer
    val spanDrop = cfg.spanIdx
      .map(d => spanDropSet(spark, d, cfg).localCheckpoint(false))
    val ndDrop = cfg.nearDupIdx
      .map(d => nearDupDropSet(spark, d, cfg).localCheckpoint(false))
    val imgDrop = cfg.imageIdx
      .map(d => imageDropSet(spark, d, cfg.imageMaxDist)
        .localCheckpoint(false))
    val alignDrop = cfg.alignIdx
      .map(d => alignDropSet(spark, d, cfg.alignMin10k)
        .localCheckpoint(false))
    val nSpan = spanDrop.map(_.count()).getOrElse(0L)
    val nNd = ndDrop.map(_.count()).getOrElse(0L)
    val gated0 = spanDrop.fold(idx0)(ds =>
      idx0.join(ds, Seq("doc_id"), "left_anti"))
    val gated1 = ndDrop.fold(gated0)(ds =>
      gated0.join(ds, Seq("doc_id"), "left_anti"))
    val gated1a = imgDrop.fold(gated1)(ds =>
      gated1.join(ds, Seq("doc_id"), "left_anti"))
    val gated = alignDrop.fold(gated1a)(ds =>
      gated1a.join(ds, Seq("doc_id"), "left_anti"))
    val nGated = gated.count()
    val nKept = nGated * cfg.keepFrac10k / 10000L
    val nSel = selectWithDrops(spark, cfg, targetShare10k, spanDrop,
      ndDrop, imgDrop, alignDrop).count()
    // the image-drop and align-drop rows appear only when their gates
    // are configured, so pre-existing report consumers (q135) see an
    // unchanged shape
    val imgRow = imgDrop.map(ds => ("c2_image_drop", ds.count())).toSeq
    val alignRow = alignDrop
      .map(ds => ("c3_align_drop", ds.count())).toSeq
    (Seq(("a_indexed", nIndexed), ("b_span_drop", nSpan),
      ("c_neardup_drop", nNd)) ++ imgRow ++ alignRow ++
      Seq(("d_gated", nGated),
        ("e_dsir_kept", nKept), ("f_selected", nSel)))
      .toDF("stage", "n")
  }

  /** Per-document drop PROVENANCE over the full recipe — the
    * production debugging table ("why did my document disappear"):
    * for every pipeline-input document, the FIRST stage that dropped
    * it in gate order — a_funnel, b_decon, b2_fuzzy (near-dup overlap
    * with the benchmark, when [[Config.fuzzyIdx]] is set), c_span,
    * d_neardup, d2_imagedup (identical perceptual hash, when
    * [[Config.imageIdx]] is set), e_dsir_cut (below the importance
    * keep-fraction), f_mix_cap
    * (over its stratum's mixture cap, or a stratum with no target
    * share) — or g_selected. [[selectReport]] is the aggregate alarm;
    * this is the row-level answer behind it.
    *
    * `docs` is the pipeline input (the union of the folded batches).
    * The funnel and decon stages replay here (per-row predicate /
    * broadcast-state join — O(docs), the same code paths
    * [[foldBatch]] ran); span, near-dup, DSIR, and mixture labels
    * derive from the persisted index state. Every flag is a skinny
    * id set left-joined onto the input manifest — the text column is
    * read once for the two replayed gates and never shuffled.
    */
  def provenance(spark: org.apache.spark.sql.SparkSession, cfg: Config,
                 docs: DataFrame,
                 targetShare10k: Map[String, Long]): DataFrame = {
    val funnelPass = cfg.funnelLangs.fold(docs)(ls =>
      docs.filter(TextAnalysis.qualityKeep(col(cfg.textCol), ls,
        minTokens = cfg.funnelMinTokens,
        maxStop10k = cfg.funnelMaxStop10k,
        minAvgLen10 = cfg.funnelMinAvgLen10)))
    val fPass = funnelPass
      .select(col(cfg.idCol).as("doc_id"), lit(1).as("__fp"))
    val deconDrop = (if (cfg.deconBloom)
        TextAnalysis.bloomDecontaminateAgainst(funnelPass,
            graft.operators.Sketches.bloomFromIndex(spark, cfg.benchIdx),
            cfg.idCol, cfg.textCol, cfg.shingleN, cfg.bloomKHashes,
            cfg.bloomMBits, cfg.deconThreshold)
          .filter(col("flagged"))
      else
        TextAnalysis.decontaminateIncremental(spark, cfg.benchIdx,
            funnelPass, cfg.idCol, cfg.textCol, cfg.shingleN,
            cfg.deconThreshold)
          .filter(col("contaminated")))
      .select(col("doc_id"), lit(1).as("__dd"))
    val fuzzyDrop = cfg.fuzzyIdx.map(dir =>
      TextAnalysis.fuzzyDecontaminateIncremental(spark, dir, funnelPass,
          cfg.idCol, cfg.textCol, cfg.fzShingleN, cfg.fzNumPerm,
          cfg.fzBands, cfg.fzThreshold)
        .filter(col("contaminated"))
        .select(col("doc_id"), lit(1).as("__fz")))
    val spanDrop = cfg.spanIdx.map(d =>
      spanDropSet(spark, d, cfg).localCheckpoint(false))
    val ndDrop = cfg.nearDupIdx.map(d =>
      nearDupDropSet(spark, d, cfg).localCheckpoint(false))
    val imgDrop = cfg.imageIdx.map(d =>
      imageDropSet(spark, d, cfg.imageMaxDist).localCheckpoint(false))
    val alignDrop = cfg.alignIdx.map(d =>
      alignDropSet(spark, d, cfg.alignMin10k).localCheckpoint(false))
    val kept = gatedKept(spark, cfg, spanDrop, ndDrop, imgDrop,
      alignDrop)
    val sel = mixtureOver(spark, kept, cfg, targetShare10k)
    val base0a = docs.select(col(cfg.idCol).as("doc_id"))
      .join(fPass, Seq("doc_id"), "left")
      .join(deconDrop, Seq("doc_id"), "left")
    val base0 = fuzzyDrop.fold(
        base0a.withColumn("__fz", lit(null).cast("int")))(fz =>
      base0a.join(fz, Seq("doc_id"), "left"))
    val base1 = spanDrop.fold(
        base0.withColumn("__sd", lit(null).cast("int")))(ds =>
      base0.join(ds.select(col("doc_id"), lit(1).as("__sd")),
        Seq("doc_id"), "left"))
    val base2 = ndDrop.fold(
        base1.withColumn("__nd", lit(null).cast("int")))(ds =>
      base1.join(ds.select(col("doc_id"), lit(1).as("__nd")),
        Seq("doc_id"), "left"))
    val base3 = imgDrop.fold(
        base2.withColumn("__im", lit(null).cast("int")))(ds =>
      base2.join(ds.select(col("doc_id"), lit(1).as("__im")),
        Seq("doc_id"), "left"))
    val base4 = alignDrop.fold(
        base3.withColumn("__al", lit(null).cast("int")))(ds =>
      base3.join(ds.select(col("doc_id"), lit(1).as("__al")),
        Seq("doc_id"), "left"))
    base4
      .join(kept.select(col("doc_id"), lit(1).as("__k")),
        Seq("doc_id"), "left")
      .join(sel.select(col("doc_id"), lit(1).as("__m")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("__fp").isNull, "a_funnel")
          .when(col("__dd") === 1, "b_decon")
          .when(col("__fz") === 1, "b2_fuzzy")
          .when(col("__sd") === 1, "c_span")
          .when(col("__nd") === 1, "d_neardup")
          .when(col("__im") === 1, "d2_imagedup")
          .when(col("__al") === 1, "d3_misaligned")
          .when(col("__k").isNull, "e_dsir_cut")
          .when(col("__m").isNull, "f_mix_cap")
          .otherwise("g_selected").as("stage"))
  }

  /** Docs whose duplicated-window fraction exceeds the cap — derived
    * from the span-hash index alone: shared hashes (in >1 doc) flag
    * their positions; one aggregate computes per-doc totals and
    * flagged counts; the exact-integer fraction compare needs no IEEE.
    * Scale: the hash agg and flag-back join are [[graft.operators.
    * Dedup.dupSpans]]'s pre-reduced shape, run over hash rows (never
    * the text).
    */
  def spanDropSet(spark: org.apache.spark.sql.SparkSession,
                          dir: String, cfg: Config): DataFrame = {
    // layer rows are (doc_id, wh, cnt) since round 16 — cnt carries
    // the occurrence count the per-occurrence rows used to spell out,
    // so n_win/n_dup are the SAME integers as before: n_win = Σ cnt,
    // n_dup = Σ cnt over shared hashes
    val sp = spark.read.parquet(dir).select("doc_id", "wh", "cnt")
    // round 17: count(1), not countDistinct — layer rows are one per
    // DISTINCT (doc_id, wh) per batch and a doc folds into exactly one
    // layer (replays overwrite their own batch id), so the plain count
    // IS the distinct doc count. countDistinct planned a second
    // Exchange (dedup on (wh, doc_id), then re-shuffle on wh); this is
    // one. n_win below already leans on the same uniqueness contract.
    val shared = sp.groupBy("wh")
      .agg(count(lit(1)).as("nd"))
      .filter(col("nd") > 1)
    sp.join(shared.select(col("wh"), lit(1L).as("f")), Seq("wh"), "left")
      .groupBy("doc_id")
      .agg(sum(col("cnt")).as("n_win"),
        sum(coalesce(col("f"), lit(0L)) * col("cnt")).as("n_dup"))
      .filter(col("n_dup") * lit(10000L) >
        col("n_win") * lit(cfg.spanMaxDupFrac10k))
      .select("doc_id")
  }

  /** Non-representative members of near-dup clusters — derived from
    * the persisted bucket/signature layers: capped bucket self-join →
    * unique candidate pairs → exact-integer signature-match filter
    * (matches ≥ ndMinMatches ⇔ est_jaccard ≥ ndMinMatches/ndNumPerm)
    * → connected components → keep the (n_distinct DESC, id ASC) best
    * per cluster, drop the rest. Docs in no cluster never appear in
    * the drop set. Scale: [[graft.operators.Dedup.minhashLsh]]'s
    * bucketed-candidates shape over skinny index rows; the bucket cap
    * is applied over the MERGED index so batch boundaries cannot
    * change which buckets are degenerate.
    */
  def nearDupDropSet(spark: org.apache.spark.sql.SparkSession,
                             dir: String, cfg: Config): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sig = spark.read.parquet(s"$dir/sig")
    val buckets = spark.read.parquet(s"$dir/bucket")
    val w = Window.partitionBy(col("band"), col("bucket"))
    val capped = buckets.withColumn("__n", count(lit(1)).over(w))
      .filter(col("__n") <= cfg.ndMaxBucket).drop("__n")
    val cand = capped.as("a").join(capped.as("b"),
        col("a.band") === col("b.band") &&
          col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val matches = size(filter(
      zip_with(col("sa"), col("sb"), (x, y) => x === y), m => m))
    val pairs = cand
      .join(sig.select(col("doc_id").as("doc_a"), col("sig").as("sa")),
        "doc_a")
      .join(sig.select(col("doc_id").as("doc_b"), col("sig").as("sb")),
        "doc_b")
      .filter(matches >= cfg.ndMinMatches)
      .select("doc_a", "doc_b")
    val clusters = graft.operators.Dedup.dupClusters(pairs, "doc_a",
      "doc_b")
    val reps = graft.operators.Dedup.clusterRepresentatives(
      clusters.join(sig.select(col("doc_id"), col("n_distinct")),
        Seq("doc_id")),
      "doc_id", "cluster_id", "n_distinct")
    clusters.join(reps.select(col("cluster_id"), col("keep_id")),
        Seq("cluster_id"))
      .filter(col("doc_id") =!= col("keep_id"))
      .select("doc_id")
  }

  /** Non-representative members of identical-perceptual-hash image
    * groups — derived from the merged (doc_id, dhash) layers: exact
    * grouping on the 64-bit hash (the q199 LAION shape: dHash is
    * size- and gray-level-invariant by construction, so identical
    * hashes ARE pixel-level near-dups), min-id member kept. One
    * pre-reduced aggregate + flag-back join over skinny hash rows —
    * never the image bytes. Radius > 0 matching is
    * [[graft.operators.Dedup.hammingNearDup]] over the same layers.
    */
  def imageDropSet(spark: org.apache.spark.sql.SparkSession,
                   dir: String, maxDist: Int = 0): DataFrame = {
    val ih = spark.read.parquet(dir).select("doc_id", "dhash")
    if (maxDist <= 0) {
      val reps = ih.groupBy("dhash").agg(min("doc_id").as("keep_id"))
      ih.join(reps, Seq("dhash"))
        .filter(col("doc_id") =!= col("keep_id"))
        .select("doc_id")
    } else {
      // radius mode: banded-Hamming candidates (identical hashes are
      // just dist-0 pairs of the same machinery) → min-label
      // connected components → the min-id member of each component
      // is its representative, everything else drops
      val pairs = graft.operators.Dedup.hammingNearDup(ih, "doc_id",
        "dhash", maxDist)
      graft.operators.Dedup.dupClusters(pairs, "id_a", "id_b")
        .filter(col("doc_id") =!= col("cluster_id"))
        .select("doc_id")
    }
  }

  /** Docs whose cross-modal alignment score sits below the threshold —
    * read straight off the merged (doc_id, align_s4) layers: the
    * score is per-doc pure (its own caption × its own image), so the
    * drop set is a FILTER, not a grouping — no global question to
    * answer, the cheapest gate after the funnel. Distinct defends
    * against the same doc scored in redelivered batches.
    */
  def alignDropSet(spark: org.apache.spark.sql.SparkSession,
                   dir: String, min10k: Long): DataFrame =
    spark.read.parquet(dir)
      .filter(col("align_s4") < min10k)
      .select("doc_id").distinct()

  /** Start the streaming fold over a document stream. */
  def start(stream: DataFrame, cfg: Config,
            checkpointDir: String): StreamingQuery =
    FoldStream.start(stream, checkpointDir)(foldBatch(_, _, cfg))
}
