package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions._

/** Large-scale training-data deduplication suite: exact, n-gram Jaccard,
  * MinHash+LSH, SimHash. All signature computation is pure array-function
  * Catalyst expressions (zero shuffles until the candidate-pair join), so
  * the only shuffles are the LSH bucket join / group-by — the shape that
  * holds at 100 TB.
  */
object Dedup {

  /** Exact dedup: group identical `textCol` values, keep lowest id.
    * At scale: group by xxhash64(text) first (fixed-width shuffle key),
    * verify within group — here the direct form since the oracle checks it.
    */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(col(textCol))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))
      .select("keep_id", "n_dups")

  /** Fold one ingest batch into a PERSISTED exact-dedup index: one
    * pre-reduced row per distinct text this batch contributes
    * (xxhash64 bucket key for the shuffle, min id, dup count). Both
    * components obey merge laws (min composes, counts add), so
    * [[exactFromIndex]] over the folded layers equals the one-shot
    * [[exact]] of the union EXACTLY (q130 against q19's verbatim
    * oracle) — continuous-ingest dedup with O(batch) folds and no
    * corpus rescan. The index carries the text for exact grouping
    * across layers; at 100 TB swap it for a 128-bit content hash
    * (collision odds below hardware error rates) — the layer/merge
    * shape is unchanged.
    */
  def exactIndexAppend(batch: DataFrame, idCol: String, textCol: String,
                       indexDir: String, batchId: Long): Unit =
    batch.groupBy(xxhash64(col(textCol)).as("th"), col(textCol).as("text"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))
      .write.mode("overwrite").parquet(s"$indexDir/batch=$batchId")

  /** The merged dedup table from the at-rest layers: re-group by the
    * exact text (hash pre-bucketing keeps the shuffle key fixed-width;
    * equality is on the text itself), min the keepers, sum the counts.
    */
  def exactFromIndex(spark: org.apache.spark.sql.SparkSession,
                     indexDir: String): DataFrame =
    spark.read.parquet(indexDir)
      .groupBy("th", "text")
      .agg(min("keep_id").as("keep_id"), sum("n_dups").as("n_dups"))
      .select("keep_id", "n_dups")

  /** The 128-BIT CONTENT-HASH form of the persisted exact-dedup index
    * — the 100 TB shape [[exactIndexAppend]]'s doc promises: layers
    * carry (xxhash64 bucket key, md5 content hash, min id, count) and
    * NEVER the text, so at-rest state is ~50 fixed bytes per distinct
    * document instead of the document itself. Identity is the 128-bit
    * hash: for n distinct docs the collision odds are ~n²/2¹²⁹
    * (≈ 10⁻¹⁵ at n = 10¹² — far below hardware error rates), the
    * standard trade every content-addressed store makes. Layer and
    * merge laws are [[exactIndexAppend]]'s exactly (min composes,
    * counts add), so folds equal the one-shot [[exact]] (q201 against
    * q19's verbatim oracle).
    */
  def exactHashedIndexAppend(batch: DataFrame, idCol: String,
                             textCol: String, indexDir: String,
                             batchId: Long): Unit =
    batch.groupBy(xxhash64(col(textCol)).as("th"),
        md5(col(textCol)).as("h128"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))
      .write.mode("overwrite").parquet(s"$indexDir/batch=$batchId")

  /** Merged dedup table from hash-only layers ([[exactFromIndex]]'s
    * twin): re-group by the content hash, min the keepers, sum the
    * counts. The xxhash64 pre-bucket keeps the shuffle key cheap; the
    * md5 is the identity.
    */
  def exactFromHashedIndex(spark: org.apache.spark.sql.SparkSession,
                           indexDir: String): DataFrame =
    spark.read.parquet(indexDir)
      .groupBy("th", "h128")
      .agg(min("keep_id").as("keep_id"), sum("n_dups").as("n_dups"))
      .select("keep_id", "n_dups")

  /** Exact duplicated-SPAN detection — the window-hash form of
    * exact-substring dedup (Lee et al. 2022, "Deduplicating Training
    * Data Makes Language Models Better"): whole-document dedup misses
    * the boilerplate header pasted into thousands of otherwise-unique
    * pages. Every `windowTokens`-token window is hashed with the
    * portable poly-hash, and windows whose hash occurs in MORE than one
    * document are emitted with the sharing count — the caller cuts the
    * spans or drops the docs.
    *
    * Scale shape: windows are pure per-row array expressions (no
    * shuffle); the rest is one aggregation plus the flag-back join,
    * both keyed on the window hash (AQE's skew handling covers the
    * hot-boilerplate hash). A poly-hash collision can flag a false
    * span; verify the window text within the matched group when
    * cutting, as the paper's suffix-array pass does.
    */
  def dupSpans(docs: DataFrame, idCol: String, textCol: String,
               windowTokens: Int): DataFrame = {
    val wins = docs.select(col(idCol).as("doc_id"),
        posexplode_outer(shingles(tokens(col(textCol)), windowTokens))
          .as(Seq("win_idx", "win")))
      .filter(col("win").isNotNull)
      .withColumn("h", charPolyHash(col("win")))
    val shared = wins.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_docs") > 1)
    wins.join(shared, Seq("h"))
      .select(col("doc_id"), col("win_idx").cast("long").as("win_idx"),
        col("h").as("window_hash"), col("n_docs"))
  }

  /** Remove cross-document duplicated spans — the CUT half of
    * exact-substring dedup (Lee et al. 2022 drop the repeated
    * substring, not the document): tokens covered by any
    * [[dupSpans]]-flagged window (a `windowTokens`-token window whose
    * hash occurs in MORE than one document) are deleted and the
    * remaining tokens rejoined. Output per doc:
    * (doc_id, n_tokens, n_removed, clean_text).
    *
    * Scale shape: the window-hash aggregation is [[dupSpans]]'s (one
    * pre-reduced hash agg + flag-back join); the cut itself is an
    * in-row positional filter against the doc's OWN flagged-window
    * starts (collected per doc — boilerplate-span counts per doc are
    * small by construction; a doc that is ALL flagged windows is just
    * deleted text).
    */
  def cutDupSpans(docs: DataFrame, idCol: String, textCol: String,
                  windowTokens: Int): DataFrame =
    cutFlaggedSpans(docs, idCol, textCol, windowTokens,
      dupSpans(docs, idCol, textCol, windowTokens))

  /** The shared positional cut: delete every token covered by a flagged
    * window start and rejoin the survivors. `flagged` carries
    * (doc_id, win_idx) rows (extra columns ignored); the cut is an
    * in-row filter against the doc's OWN flagged starts (collected per
    * doc — flagged-span counts per doc are small by construction).
    */
  private def cutFlaggedSpans(docs: DataFrame, idCol: String,
      textCol: String, windowTokens: Int,
      flagged: DataFrame): DataFrame = {
    val starts = flagged
      .groupBy("doc_id").agg(collect_set(col("win_idx")).as("starts"))
    docs.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("toks"))
      .join(starts, Seq("doc_id"), "left")
      .withColumn("kept", filter(col("toks"), (_, i) =>
        !exists(coalesce(col("starts"),
            array().cast("array<long>")),
          s => i >= s && i < s + windowTokens)))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        (size(col("toks")) - size(col("kept"))).cast("long")
          .as("n_removed"),
        array_join(col("kept"), " ").as("clean_text"))
  }

  // ------------------------------------------- corpus-frequency boilerplate

  /** Per-doc window hashes — the shared front of [[dupSpans]] and the
    * boilerplate family: every `windowTokens`-token window as a
    * (doc_id, win_idx, h) row, hashed with the portable poly-hash.
    * Pure per-row array expressions, zero shuffle.
    */
  private def windowHashes(docs: DataFrame, idCol: String,
      textCol: String, windowTokens: Int): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        posexplode_outer(shingles(tokens(col(textCol)), windowTokens))
          .as(Seq("win_idx", "win")))
      .filter(col("win").isNotNull)
      .withColumn("h", charPolyHash(col("win")))

  /** Corpus-frequency boilerplate detection — RefinedWeb's repeated-
    * line removal (Penedo et al. 2023 §3.3) generalized to token
    * windows: a window whose hash occurs in MORE than `minDf` distinct
    * documents is template chrome (navigation, license headers,
    * cookie banners), not content, and gets cut from EVERY document —
    * unlike [[dupSpans]]' pairwise `>1` flag, the threshold here is a
    * corpus-level document-frequency bar. Output: (doc_id, win_idx,
    * window_hash, n_docs) for every flagged window occurrence.
    *
    * Scale shape: identical to [[dupSpans]] — windows are per-row
    * expressions; one pre-reduced hash aggregate (partial
    * countDistinct per map side) plus the flag-back join, both keyed
    * on the window hash. The higher the bar, the SMALLER the flagged
    * set — at production thresholds (df > hundreds) it is a sliver.
    */
  def boilerplateSpans(docs: DataFrame, idCol: String, textCol: String,
                       windowTokens: Int, minDf: Long): DataFrame = {
    require(minDf >= 1, "minDf >= 1")
    val wins = windowHashes(docs, idCol, textCol, windowTokens)
    val shared = wins.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_docs") > minDf)
    wins.join(shared, Seq("h"))
      .select(col("doc_id"), col("win_idx").cast("long").as("win_idx"),
        col("h").as("window_hash"), col("n_docs"))
  }

  /** Cut corpus-frequency boilerplate: tokens covered by any
    * [[boilerplateSpans]]-flagged window are deleted and the remaining
    * tokens rejoined. Output per doc: (doc_id, n_tokens, n_removed,
    * clean_text) — [[cutDupSpans]]' shape with the df bar.
    */
  def cutBoilerplate(docs: DataFrame, idCol: String, textCol: String,
                     windowTokens: Int, minDf: Long): DataFrame =
    cutFlaggedSpans(docs, idCol, textCol, windowTokens,
      boilerplateSpans(docs, idCol, textCol, windowTokens, minDf))

  /** Fold one ingest batch into a PERSISTED boilerplate-frequency
    * index (the [[exactIndexAppend]] pattern): one pre-reduced
    * (h, n_docs) row per distinct window hash this batch contributes.
    * Batches MUST be doc-disjoint — per-batch DISTINCT doc counts then
    * ADD to the global document frequency, so cutting from the folded
    * index equals the one-shot [[cutBoilerplate]] of the union
    * exactly. O(batch) per fold; nothing rescans earlier batches.
    */
  def boilerplateIndexAppend(batch: DataFrame, idCol: String,
      textCol: String, windowTokens: Int, indexDir: String,
      batchId: Long): Unit =
    windowHashes(batch, idCol, textCol, windowTokens)
      .groupBy("h").agg(countDistinct(col("doc_id")).as("n_docs"))
      .write.mode("overwrite").parquet(s"$indexDir/batch=$batchId")

  /** Cut boilerplate against the persisted frequency index: sum the
    * per-batch partial dfs, keep hashes above the bar (a SLIVER at
    * real thresholds — broadcast), flag the docs' own windows against
    * it, cut positionally. The corpus being cut never shuffles its
    * window stream; the only exchanges are the index-side aggregate
    * (index-sized) and the per-doc starts collection (flagged rows
    * only).
    */
  def cutBoilerplateFromIndex(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, docs: DataFrame, idCol: String, textCol: String,
      windowTokens: Int, minDf: Long): DataFrame = {
    require(minDf >= 1, "minDf >= 1")
    val bad = spark.read.parquet(indexDir)
      .groupBy("h").agg(sum("n_docs").as("n_docs"))
      .filter(col("n_docs") > minDf)
      .select("h")
    val flagged = windowHashes(docs, idCol, textCol, windowTokens)
      .join(broadcast(bad), Seq("h"))
    cutFlaggedSpans(docs, idCol, textCol, windowTokens, flagged)
  }

  /** Candidate doc pairs by exact token-n-gram Jaccard over an inverted
    * shingle index. O(sum over shingles of df²) — bound the input or use
    * minhashLsh for the scale path.
    */
  def ngramJaccard(docs: DataFrame, idCol: String, textCol: String,
                   n: Int, threshold: Double): DataFrame = {
    val sh = docs
      .select(col(idCol).as("doc_id"),
        array_distinct(shingles(tokens(col(textCol)), n)).as("sh"))
    val sizes = sh.select(col("doc_id"), size(col("sh")).as("n_sh"))
    val inv = sh.select(col("doc_id"), explode(col("sh")).as("s"))
    val a = inv.as("a"); val b = inv.as("b")
    val inter = a.join(b, col("a.s") === col("b.s") &&
        col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "doc_a")
                 .withColumnRenamed("n_sh", "n_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b")
                 .withColumnRenamed("n_sh", "n_b"), "doc_b")
      .withColumn("jaccard",
        col("shared").cast("double") / (col("n_a") + col("n_b") - col("shared")))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "shared", "jaccard")
  }

  /** The (a, b) affine-permutation constants for [[minhashLsh]] — shared
    * with the DuckDB oracle builder so both engines replay the identical
    * signature arithmetic.
    */
  def minhashPerms(numPerm: Int, seed: Long): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(numPerm)((rnd.nextInt(1 << 30).toLong + 1,
                       rnd.nextInt(1 << 30).toLong))
  }

  /** MinHash signature table (doc_id, s0..s{numPerm-1}) — the reusable
    * first stage of [[minhashLsh]] and [[incrementalMinhash]]. Persisted:
    * one computation feeds every consumer.
    */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
                        shingleN: Int, numPerm: Int, seed: Long): DataFrame = {
    // The signature is a pure function of the row's own text: ONE native
    // expression call per row ([[graft.functions.MinHashSig]] — the fused
    // ShingleHash kernel plus the permutation minima in a single
    // generated loop). Zero Exchange; a zero-shingle doc returns null
    // and is filtered.
    docs.select(col(idCol).as("doc_id"),
        graft.functions.MinHashSig.minhashSig(col(textCol), shingleN,
          minhashPerms(numPerm, seed)).as("__sig"))
      .filter(col("__sig").isNotNull)
      .select(col("doc_id") +: (0 until numPerm).map(i =>
        col("__sig").getItem(i).as(s"s$i")): _*)
      // computed once, reused by 3 consumers (bucket explode + both pair
      // joins). localCheckpoint, measured against the alternatives at
      // sf0.1 in the full bench sequence (round 8): lazy MEMORY_AND_DISK
      // persist +25%, eagerly materialized MEMORY_ONLY persist +33% —
      // rescanning the InMemoryRelation's compressed columnar batches
      // three times costs more than re-reading the checkpointed row
      // partitions, and eager materialization doesn't help because the
      // consumers never actually raced (one action, shared cached
      // stages). The round-5 "non-existent accumulator" ContextCleaner
      // noise that motivated round 7's persist swap is instead fixed at
      // the release site: Bench.dropCaches unpersists every persistent
      // RDD with blocking=true, so checkpoint cleanup runs synchronously
      // between lanes, not on the async cleaner thread mid-run (round-8
      // bench tails: clean).
      .localCheckpoint(false)
  }

  /** LSH band buckets (doc_id, band, bucket) from a signature table; the
    * bucket is the band's min values joined with "," (an oracle builds
    * the same string).
    */
  def bandBuckets(sig: DataFrame, numPerm: Int, bands: Int): DataFrame = {
    val rowsPerBand = numPerm / bands
    def bucketOf(b: Int) = concat_ws(",",
      (0 until rowsPerBand).map(r => col(s"s${b * rowsPerBand + r}")): _*)
    val bandStructs = array((0 until bands).map { b =>
      struct(lit(b).as("band"), bucketOf(b).as("bucket"))
    }: _*)
    sig.select(col("doc_id"), explode(bandStructs).as("bk"))
      .select(col("doc_id"),
        col("bk.band").as("band"), col("bk.bucket").as("bucket"))
  }

  /** MinHash + LSH near-dup detection — the scale path.
    *
    * Pipeline: per-doc signature ([[minhashSignatures]]: shingles hashed
    * with the oracle-replayable
    * [[graft.functions.GraftFunctions.charPolyHash]] family, numPerm
    * affine-permutation minima, one native call per row, no shuffle) →
    * band buckets ([[bandBuckets]]: explode, SKINNY rows: doc_id + band +
    * bucket only) → hot-bucket cap → bucket self-join (the only quadratic
    * step, confined to same-bucket docs) → pair-dedup BEFORE scoring →
    * join signatures back once per unique pair → estimated Jaccard.
    * Every step replays bit-identically in ANSI SQL (DuckDB oracle q21).
    *
    * Ordering matters at scale: the bucket join shuffles 3 narrow columns,
    * pairs are deduped while still skinny, and the 2×numPerm-long
    * signature arrays are attached exactly once per unique pair (the
    * earlier form carried both arrays through the join and scored every
    * band collision — up to `bands`× redundant shuffle + compute; it was
    * the round-1 bench outlier at 44 s). The signature table is
    * checkpointed: it feeds the bucket explode and both pair joins.
    *
    * `maxBucketSize` drops degenerate buckets (boilerplate docs hashing
    * identically) whose membership exceeds the cap — without it one hot
    * bucket goes quadratic at 100×. The count window shares the bucket
    * join's (band, bucket) partitioning, so the cap costs no extra
    * exchange.
    */
  def minhashLsh(docs: DataFrame, idCol: String, textCol: String,
                 shingleN: Int = 3, numPerm: Int = 64, bands: Int = 16,
                 estThreshold: Double = 0.0, seed: Long = 42L,
                 maxBucketSize: Int = 0): DataFrame = {
    val sig = minhashSignatures(docs, idCol, textCol, shingleN, numPerm,
      seed)
    val buckets = bandBuckets(sig, numPerm, bands)

    val capped = if (maxBucketSize > 0) {
      val w = Window.partitionBy(col("band"), col("bucket"))
      buckets.withColumn("__n", count(lit(1)).over(w))
        .filter(col("__n") <= maxBucketSize).drop("__n")
    } else buckets

    val a = capped.as("a"); val b = capped.as("b")
    val pairs = a.join(b,
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()

    val sigArr = array((0 until numPerm).map(i => col(s"s$i")): _*)
    val matches = size(filter(
      zip_with(col("sa"), col("sb"), (x, y) => x === y), m => m))
    pairs
      .join(sig.select(col("doc_id").as("doc_a"), sigArr.as("sa")), "doc_a")
      .join(sig.select(col("doc_id").as("doc_b"), sigArr.as("sb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (matches.cast("double") / numPerm).as("est_jaccard"))
      .filter(col("est_jaccard") >= estThreshold)
  }

  /** Candidate-quality evaluation of the MinHash-LSH near-dup path —
    * the measure-don't-guess discipline (the recall harness the ANN
    * tier has in `Ann.recallAtK`) applied to dedup: precision and
    * recall of the LSH pair candidates against EXACT n-gram Jaccard
    * ground truth at the same threshold, on a bounded evaluation
    * subset (`evalPred` over the id column — exact pairwise Jaccard
    * is quadratic by definition, so the truth side runs on a labeled
    * sample; the LSH side runs over the FULL corpus exactly as
    * production does — bucket capping and band membership see
    * everything — and only its PAIRS are restricted to the sample).
    * One row: (n_true, n_cand, n_hit, prec, recall). Before anyone
    * trusts a (numPerm, bands, cap) setting at 100 TB, this is the
    * number that justifies it — recall lost to bucket caps or band
    * granularity is invisible until measured.
    */
  def lshEval(docs: DataFrame, idCol: String, textCol: String,
              evalPred: Column => Column, shingleN: Int, numPerm: Int,
              bands: Int, threshold: Double,
              maxBucketSize: Int): DataFrame = {
    val truth = ngramJaccard(docs.filter(evalPred(col(idCol))), idCol,
        textCol, n = shingleN, threshold = threshold)
      .select(col("doc_a"), col("doc_b"), lit(1L).as("__t"))
    val cand = minhashLsh(docs, idCol, textCol, shingleN = shingleN,
        numPerm = numPerm, bands = bands, estThreshold = threshold,
        maxBucketSize = maxBucketSize)
      .filter(evalPred(col("doc_a")) && evalPred(col("doc_b")))
      .select(col("doc_a"), col("doc_b"), lit(1L).as("__c"))
    truth.join(cand, Seq("doc_a", "doc_b"), "full_outer")
      .agg(coalesce(sum(col("__t")), lit(0L)).as("n_true"),
        coalesce(sum(col("__c")), lit(0L)).as("n_cand"),
        coalesce(sum(col("__t") * col("__c")), lit(0L)).as("n_hit"))
      .select(col("n_true"), col("n_cand"), col("n_hit"),
        when(col("n_cand") === 0L, lit(0.0))
          .otherwise(col("n_hit").cast("double") / col("n_cand"))
          .as("prec"),
        when(col("n_true") === 0L, lit(0.0))
          .otherwise(col("n_hit").cast("double") / col("n_true"))
          .as("recall"))
  }

  /** Persisted dedup state: the corpus's signature and bucket tables.
    * At rest, persist `buckets` partitioned by
    * `pmod(xxhash64(bucket), B)` — the incremental fold's candidate
    * join then prunes to the partitions the batch's buckets hash into,
    * so per-batch cost tracks batch size, not corpus size (same bucket
    * trick as [[graft.streaming.StarPipeline]]).
    */
  final case class MinhashState(signatures: DataFrame, buckets: DataFrame)

  /** Incremental near-dup fold — dedup a NEW batch of documents against
    * an already-signed corpus without rescanning it (the shape a 100 TB
    * training-data pipeline actually runs: continuous ingest, dedup
    * each increment against everything seen so far).
    *
    * Returns the dup pairs this batch introduces (new×corpus and
    * new×new, scored exactly like [[minhashLsh]]) and the grown state.
    * Folding a corpus batch-by-batch yields EXACTLY the pair set of one
    * full-corpus run (per-doc signatures/buckets are deterministic; a
    * cross-batch pair is emitted by the fold that sees its second
    * member) — `DedupAnnSpec` asserts this equivalence.
    *
    * Cost shape: the batch's shingle/signature work is O(batch); the
    * candidate join touches only state buckets matching the batch's
    * (band, bucket) keys; signatures attach once per unique pair.
    * Nothing reads the corpus text again.
    */
  def incrementalMinhash(state: MinhashState, batch: DataFrame,
                         idCol: String, textCol: String,
                         shingleN: Int = 3, numPerm: Int = 64,
                         bands: Int = 16, estThreshold: Double = 0.0,
                         seed: Long = 42L)
      : (DataFrame, MinhashState) = {
    val bSig = minhashSignatures(batch, idCol, textCol, shingleN, numPerm,
      seed)
    val bBuckets = bandBuckets(bSig, numPerm, bands)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // batch drives the probe: new×old needs any id order (normalized
    // below), new×new counts once via the id ordering
    val corpus = state.buckets.withColumn("__new", lit(false))
      .unionByName(bBuckets.withColumn("__new", lit(true)))
    val pairs = bBuckets.as("a").join(corpus.as("b"),
        col("a.band") === col("b.band") &&
          col("a.bucket") === col("b.bucket") &&
          ((!col("b.__new") && col("a.doc_id") =!= col("b.doc_id")) ||
            (col("b.__new") && col("a.doc_id") < col("b.doc_id"))))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
      .distinct()

    val allSig = state.signatures.unionByName(bSig)
    val sigArr = array((0 until numPerm).map(i => col(s"s$i")): _*)
    val matches = size(filter(
      zip_with(col("sa"), col("sb"), (x, y) => x === y), m => m))
    val scored = pairs
      .join(allSig.select(col("doc_id").as("doc_a"), sigArr.as("sa")),
        "doc_a")
      .join(allSig.select(col("doc_id").as("doc_b"), sigArr.as("sb")),
        "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (matches.cast("double") / numPerm).as("est_jaccard"))
      .filter(col("est_jaccard") >= estThreshold)

    (scored, MinhashState(allSig, state.buckets.unionByName(bBuckets)))
  }

  /** Empty state with the right schemas, derived from any batch. */
  def emptyMinhashState(batch: DataFrame, idCol: String, textCol: String,
                        shingleN: Int = 3, numPerm: Int = 64,
                        bands: Int = 16, seed: Long = 42L): MinhashState = {
    val sig0 = minhashSignatures(batch.limit(0), idCol, textCol, shingleN,
      numPerm, seed)
    MinhashState(sig0, bandBuckets(sig0, numPerm, bands))
  }

  /** SimHash signatures: bit b of the 31-bit signature is the sign of
    * the vote sum over the distinct tokens'
    * [[graft.functions.GraftFunctions.charPolyHash]] bit b. Explode →
    * hash once → per-bit sum-aggregates (map-side partial agg) →
    * recombine bits from materialized columns; every step is exact
    * integer arithmetic an ANSI SQL oracle replays bit-for-bit (DuckDB
    * q22).
    */
  def simhashSigs(docs: DataFrame, idCol: String,
                  textCol: String): DataFrame = {
    val nBits = 31
    val tokRows = docs
      .select(col(idCol).as("doc_id"),
        explode(array_distinct(tokens(col(textCol)))).as("t"))
      .withColumn("h", charPolyHash(col("t")))
    val votes = tokRows.groupBy(col("doc_id")).agg(
      sum(bitVote(0)).as("v0"),
      (1 until nBits).map(b => sum(bitVote(b)).as(s"v$b")): _*)
    val sig = (0 until nBits).map(b =>
      when(col(s"v$b") > 0, shiftleft(lit(1L), b)).otherwise(lit(0L)))
      .reduce(_.bitwiseOR(_))
    votes.select(col("doc_id"), sig.as("simhash"))
  }

  private def bitVote(b: Int) =
    when(shiftright(col("h"), b).bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L)

  /** Embedding-cosine near-dup: pairs above simThreshold, using the IVF
    * bucket (or any coarse cluster id) as the blocking key.
    * `maxClusterSize` (0 = off) drops clusters above the cap before the
    * self-join — within-cluster cost is quadratic, so one degenerate
    * cluster (a dead-embedding mode) would otherwise dominate at 100×;
    * the count window shares the join's cluster partitioning.
    */
  def embeddingNearDup(embeds: DataFrame, idCol: String, vecCol: String,
                       clusterCol: String, simThreshold: Double,
                       maxClusterSize: Int = 0): DataFrame = {
    val base = embeds.select(col(idCol).as("doc_id"),
      col(clusterCol).as("cl"), toDoubleVec(col(vecCol)).as("v"))
      .withColumn("nrm", l2Norm(col("v")))
    val prepped = if (maxClusterSize > 0) {
      val w = Window.partitionBy(col("cl"))
      base.withColumn("__n", count(lit(1)).over(w))
        .filter(col("__n") <= maxClusterSize).drop("__n")
    } else base
    val a = prepped.as("a"); val b = prepped.as("b")
    a.join(b, col("a.cl") === col("b.cl") && col("a.doc_id") < col("b.doc_id"))
      .withColumn("sim",
        cosineSimPre(col("a.v"), col("b.v"), col("a.nrm"), col("b.nrm")))
      .filter(col("sim") >= simThreshold)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        (round(col("sim"), 4) + lit(0.0)).as("sim"))
  }

  /** Connected components over an undirected duplicate-pair edge list →
    * (doc_id, cluster_id) with cluster_id = the smallest id reachable.
    * Near-dup pair lists (LSH/SimHash output) cluster into near-cliques,
    * so min-label propagation converges in 2-3 rounds; each round is ONE
    * shuffle (join labels across edges + min-aggregate), the driver loop
    * only counts rounds and changed labels — data never collects. The
    * symmetric edge list is checkpointed once and reused every round;
    * per-round checkpoints truncate lineage so the plan stays flat at
    * any scale. For graphs with long paths swap in pointer-jumping
    * (label(label(x))) to make rounds logarithmic — dup clusters don't
    * need it. Only docs that appear in a pair are emitted.
    */
  def dupClusters(pairs: DataFrame, aCol: String, bCol: String,
                  maxRounds: Int = 20): DataFrame = {
    val edges = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct().localCheckpoint(false)
    // round 17 (guide §1.2 — remove passes): the LSH/banding candidate
    // pairs are bucket-capped upstream, so the edge set is usually a
    // sliver of the corpus. Below a driver budget, a single collect +
    // union-find replaces the whole propagation loop (each round = a
    // join + an aggregate + a count action); labels are IDENTICAL —
    // min-label propagation's fixpoint IS the component-minimum id.
    // Past the budget (or for non-long ids) the distributed loop runs
    // unchanged — 100 TB candidate sets never collect to the driver.
    val longIds = edges.schema.fields.forall(_.dataType ==
      org.apache.spark.sql.types.LongType)
    val nEdges = edges.count() // materializes the checkpoint either way
    if (longIds && nEdges <= 2000000L) {
      val s = pairs.sparkSession
      import s.implicits._
      val parent = new scala.collection.mutable.LongMap[Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
        r
      }
      edges.select(col("src"), col("dst")).as[(Long, Long)].collect()
        .foreach { case (a, b) =>
          parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
          val ra = find(a); val rb = find(b)
          if (ra != rb) {
            // attach the larger root under the smaller: the root stays
            // the component minimum, so labels read off directly
            if (ra < rb) parent(rb) = ra else parent(ra) = rb
          }
        }
      return parent.keys.toSeq.sorted.map(n => (n, find(n)))
        .toDF("doc_id", "cluster_id")
    }
    var labels = edges.groupBy("src").agg(min("dst").as("m"))
      .select(col("src").as("node"), least(col("src"), col("m")).as("label"))
      .localCheckpoint(false)
    var changed = 1L
    var round = 0
    while (changed > 0 && round < maxRounds) {
      val prop = edges.join(labels.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst").as("node")).agg(min("label").as("nl"))
      // round 16: carry the changed flag THROUGH the propagation join
      // instead of re-joining next against the old labels per round —
      // the convergence count rides the same materializing action
      val next = labels.join(prop, Seq("node"), "left")
        .select(col("node"), least(col("label"), col("nl")).as("label"),
          (col("nl") < col("label")).as("__ch"))
        .localCheckpoint(false)
      changed = next.filter(col("__ch")).count()
      labels = next.select("node", "label")
      round += 1
    }
    labels.select(col("node").as("doc_id"), col("label").as("cluster_id"))
  }

  /** One representative per duplicate cluster — keep-the-BEST, not
    * keep-the-first: real pipelines keep the highest-quality member of
    * each near-dup cluster (longest, least boilerplate), not an
    * arbitrary id. `members` carries (idCol, clusterCol, qualityCol);
    * the winner is (quality DESC, id ASC) — deterministic, so the
    * kept set is reproducible. Output:
    * (cluster_id, keep_id, n_members). Docs in no cluster (never in a
    * candidate pair) are implicitly their own representatives.
    *
    * One window shuffle over the cluster-membership table (pair-found
    * docs only — a sliver of the corpus); WindowGroupLimit applies
    * via the rank-1 filter shape.
    */
  def clusterRepresentatives(members: DataFrame, idCol: String,
                             clusterCol: String,
                             qualityCol: String): DataFrame = {
    val w = Window.partitionBy(col(clusterCol))
      .orderBy(col(qualityCol).desc, col(idCol))
    members
      .withColumn("__rn", row_number().over(w))
      .groupBy(col(clusterCol).as("cluster_id"))
      .agg(min(when(col("__rn") === 1, col(idCol))).as("keep_id"),
        count(lit(1)).as("n_members"))
  }

  /** SemDeDup (Abbas et al. 2023): semantic dedup of an embedding corpus
    * — cluster, then inside each cluster drop every vector that has an
    * EARLIER-ORDERED neighbor with cosine ≥ `tau`, where the order is
    * ascending similarity-to-centroid (the paper's keep-the-outlier
    * policy: the member farthest from the centroid survives its ε-ball,
    * preserving diversity).
    *
    * `clusterCol` is any precomputed coarse assignment (a label, an
    * [[graft.operators.Ann.ivfCluster]] argmin, an LSH bucket) — same
    * convention as [[graft.operators.Ann.ivfTopK]]. The within-cluster
    * pair join is the quadratic step and is confined to clusters, with
    * `maxClusterSize` dropping degenerate ones — identical scale shape
    * to the LSH bucket join.
    *
    * Determinism across engines (the oracle property): centroids are
    * computed over floor(x·10⁴) integer quantizations — integer sums are
    * exact and order-independent, unlike float aggregation, so the
    * centroid (and the similarity ORDER it induces) is bit-identical in
    * any engine; per-pair cosines are sequential per-row arithmetic.
    * Ordering ties break by id.
    */
  def semDedup(vectors: DataFrame, idCol: String, vecCol: String,
               clusterCol: String, tau: Double,
               maxClusterSize: Int = 0): DataFrame = {
    val ex0 = vectors.select(col(idCol).as("vec_id"),
      col(clusterCol).as("cluster"), toDoubleVec(col(vecCol)).as("v"))
    val ex = if (maxClusterSize > 0) {
      val w = Window.partitionBy(col("cluster"))
      ex0.withColumn("__n", count(lit(1)).over(w))
        .filter(col("__n") <= maxClusterSize).drop("__n")
    } else ex0

    // exact-integer centroid: per (cluster, dim) sum of floor(x*1e4)
    val cents = ex
      .select(col("cluster"), posexplode(col("v")).as(Seq("p", "x")))
      .groupBy(col("cluster"), col("p"))
      .agg(sum(floor(col("x") * 10000).cast("long")).as("s"),
        count(lit(1)).as("n"))
      .withColumn("m", col("s").cast("double") / (col("n") * 10000.0))
      .groupBy(col("cluster"))
      .agg(transform(array_sort(collect_list(struct(col("p"), col("m")))),
        s => s.getField("m")).as("cv"))

    // similarity to centroid (rounded: the deterministic order key)
    val scored = ex.join(broadcast(cents), Seq("cluster"))
      .withColumn("r",
        round(cosineSimPre(col("v"), col("cv"),
          l2Norm(col("v")), l2Norm(col("cv"))), 4) + lit(0.0))
      .select(col("vec_id"), col("cluster"), col("v"), col("r"))

    val a = scored.as("a"); val b = scored.as("b")
    val earlier = col("a.r") < col("b.r") ||
      (col("a.r") === col("b.r") && col("a.vec_id") < col("b.vec_id"))
    val victims = a.join(b,
        col("a.cluster") === col("b.cluster") && earlier &&
          cosineSimPre(col("a.v"), col("b.v"),
            l2Norm(col("a.v")), l2Norm(col("b.v"))) >= tau)
      .groupBy(col("b.vec_id").as("vec_id"))
      .agg(count(lit(1)).as("n_earlier_dups"))

    scored.join(victims, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"), col("r").as("cent_sim"),
        coalesce(col("n_earlier_dups"), lit(0L)).as("n_earlier_dups"),
        col("n_earlier_dups").isNull.as("kept"))
  }

  /** HAMMING near-dup over 64-bit fingerprints (perceptual image
    * hashes, SimHash signatures): candidate pairs via BANDED bit
    * buckets — split each hash into `bands` equal bit slices; by
    * pigeonhole, two hashes within `maxDist` differing bits share at
    * least one identical slice when `maxDist < bands`, so the
    * bucket-join finds every true pair while confining the quadratic
    * to same-slice collisions (the text tier's LSH discipline applied
    * to fixed-width binary codes). Exact `bit_count(xor)` verifies
    * each candidate. Output: (id_a, id_b, dist), id_a < id_b.
    */
  def hammingNearDup(df: DataFrame, idCol: String, hashCol: String,
                     maxDist: Int, bands: Int = 0,
                     maxBucketSize: Int = 0): DataFrame = {
    require(maxDist >= 0 && maxDist < 64,
      s"maxDist $maxDist out of [0, 64)")
    // bands = 0 → AUTO: the narrowest banding that still guarantees
    // pigeonhole completeness (the smallest divisor of 64 strictly
    // above maxDist) — production pHash radii (8–12 bits on 64) get
    // 16 4-bit bands without the caller doing divisor arithmetic
    val nb = if (bands > 0) bands
      else Seq(1, 2, 4, 8, 16, 32, 64).find(_ > maxDist).get
    require(64 % nb == 0, s"bands $nb must divide 64")
    require(maxDist < nb,
      s"maxDist $maxDist needs more than $maxDist bands, got $nb " +
        "(pigeonhole: every <=maxDist-bit difference must leave one " +
        "band intact) — raise bands, or pass bands = 0 to auto-widen")
    val width = 64 / nb
    val mask = if (width == 64) -1L else (1L << width) - 1
    val b = df.select(col(idCol).as("__id"),
        col(hashCol).cast("long").as("__h"))
      .select(col("__id"), col("__h"),
        explode(array((0 until nb).map(i =>
          struct(lit(i).as("band"),
            shiftrightunsigned(col("__h"), i * width)
              .bitwiseAND(lit(mask)).as("bucket"))): _*)).as("bk"))
      .select(col("__id"), col("__h"),
        col("bk.band").as("band"), col("bk.bucket").as("bucket"))
    // hot-bucket cap — the [[minhashLsh]] discipline: wide radii mean
    // narrow bands (16 bands ⇒ 2⁴ buckets/band), and dist-0
    // exact-duplicate groups make a cell's self-join quadratic in
    // group size; the cap bounds both, and [[hammingEval]] measures
    // the recall it costs before 100 TB rides on the setting
    val capped = if (maxBucketSize > 0) {
      val w = Window.partitionBy(col("band"), col("bucket"))
      b.withColumn("__n", count(lit(1)).over(w))
        .filter(col("__n") <= maxBucketSize).drop("__n")
    } else b
    val cand = capped.as("a").join(capped.as("x"),
        col("a.band") === col("x.band") &&
          col("a.bucket") === col("x.bucket") &&
          col("a.__id") < col("x.__id"))
      .select(col("a.__id").as("id_a"), col("x.__id").as("id_b"),
        col("a.__h").as("__ha"), col("x.__h").as("__hb"))
    // bit_count BEFORE the pair dedup: a same-bucket pair repeats once
    // per shared band (up to `nb`×), so the exchange that dedups it
    // should carry (id_a, id_b, dist) of FILTERED rows — three longs
    // of true pairs, not four longs of every candidate repeat
    cand
      .withColumn("dist",
        bit_count(col("__ha").bitwiseXOR(col("__hb"))).cast("long"))
      .filter(col("dist") <= maxDist)
      .select(col("id_a"), col("id_b"), col("dist"))
      .distinct()
  }

  /** Candidate-quality eval of the banded Hamming path — [[lshEval]]'s
    * measure-don't-guess discipline for 64-bit fingerprints: EXACT
    * pairwise bit_count over a bounded `evalPred` sample as truth
    * (all-pairs is quadratic by definition — sample by contract), the
    * banded candidates (banding and cap run over the FULL corpus
    * exactly as production does, only the PAIRS restrict to the
    * sample) as the measured side. One row:
    * (n_true, n_cand, n_hit, prec, recall) — candidates are already
    * bit_count-verified so prec is 1.0 by construction; RECALL is the
    * number a bucket cap or band setting has to justify.
    */
  def hammingEval(df: DataFrame, idCol: String, hashCol: String,
                  evalPred: Column => Column, maxDist: Int,
                  bands: Int = 0, maxBucketSize: Int = 0): DataFrame = {
    val sub = df.filter(evalPred(col(idCol)))
      .select(col(idCol).as("__id"), col(hashCol).cast("long").as("__h"))
    val truth = sub.as("a").join(sub.as("x"),
        col("a.__id") < col("x.__id") &&
          bit_count(col("a.__h").bitwiseXOR(col("x.__h"))) <= maxDist)
      .select(col("a.__id").as("id_a"), col("x.__id").as("id_b"),
        lit(1L).as("__t"))
    val cand = hammingNearDup(df, idCol, hashCol, maxDist, bands,
        maxBucketSize)
      .filter(evalPred(col("id_a")) && evalPred(col("id_b")))
      .select(col("id_a"), col("id_b"), lit(1L).as("__c"))
    truth.join(cand, Seq("id_a", "id_b"), "full_outer")
      .agg(coalesce(sum(col("__t")), lit(0L)).as("n_true"),
        coalesce(sum(col("__c")), lit(0L)).as("n_cand"),
        coalesce(sum(col("__t") * col("__c")), lit(0L)).as("n_hit"))
      .select(col("n_true"), col("n_cand"), col("n_hit"),
        when(col("n_cand") === 0L, lit(0.0))
          .otherwise(col("n_hit").cast("double") / col("n_cand"))
          .as("prec"),
        when(col("n_true") === 0L, lit(0.0))
          .otherwise(col("n_hit").cast("double") / col("n_true"))
          .as("recall"))
  }
}
