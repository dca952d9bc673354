package graft

import org.apache.spark.sql.SparkSession

/** Headline benchmark (driver-run at sf0.1 → BENCH_r{N}.json).
  * Times each headline query end-to-end (scan → plan → execute → count),
  * plus a synthetic waveform-collation ingest shaped like the reference's
  * design load (BASELINE.md: 10,500 samples/s sustained; we time packing
  * 30 locations × 300 Hz × 60 s = 540k samples through the collator).
  */
object Bench {

  // Queries that exercise the scale-relevant operator classes; the tiny
  // lookups are excluded (they measure session overhead, not the engine).
  private val headline = Seq(
    "q01_pricing_summary", "q02_stream_minmax", "q05_sessionize",
    "q07_scd2_history", "q09_interval_join", "q10_disjunctive_lookup",
    "q17_upsert_kernel", "q19_dedup_exact", "q21_minhash_lsh",
    "q23_ann_brute", "q25_text_stats", "q27_fingerprint",
    "q31_asof_join", "q34_embed_neardup",
    // round 7: decontamination (broadcast-join + one-agg shape) and
    // sequence packing (per-stream window) — trendlines for the new
    // text-prep operators
    "q84_decontaminate", "q87_pack_sequences",
    // round 8: DSIR importance weights — the two-pass distribution-
    // build + broadcast-bucket-scoring shape
    "q92_dsir_weights",
    // round 9: the BPE tokenizer application pass (train 20 merges +
    // zero-shuffle per-row encode) — the corpus-scan-bound shape;
    // and the composed incremental curation chain (three persisted
    // indexes + distributed global rank + mixture)
    "q104_bpe_encode", "q110_incremental_curation",
    // round 10: the retrieval vertical (embed → IVF-PQ build → append/
    // compact/append → pruned query) and the FULL curation recipe
    // (span + near-dup-representative gates over persisted state)
    "q122_text_retrieval", "q126_curation_full",
    // round 10 second wave: sparse retrieval (inverted index + BM25,
    // one postings pass) and bounded-state frequent items (TakeOrdered
    // candidates + CM probes)
    "q140_bm25_search", "q142_heavy_hitters",
    // round 11: corpus-frequency boilerplate cut (pre-reduced window-
    // hash DF agg + broadcast flag-back), int8-quantized brute scan
    // (byte-packed codes, native integer dot), the multi-rule
    // quality funnel (zero-shuffle per-row projection), and the RAG
    // vertical (chunk → hash-embed → persisted SQ8 → pruned query)
    "q152_cut_boilerplate", "q155_quantized_search",
    "q157_quality_funnel", "q164_rag_vertical",
    // round 12: the trained-centroid RAG chain (sample-train + frozen
    // coarse quantizer + geometric probe pruning — the production
    // retrieval shape) and line-level cleaning (the zero-shuffle
    // per-row projection trendline for document hygiene)
    "q170_rag_trained", "q173_clean_lines",
    // round 13: HTML→text extraction (the zero-shuffle regexp front a
    // web corpus pays before anything else), fuzzy decontamination
    // (cross-corpus MinHash with the benchmark broadcast), byte-level
    // BPE training (hex-byte symbol table through the same merge
    // loop), and the end-to-end wire→funnel→RAG chain
    "q184_html_extract", "q186_fuzzy_decon", "q189_bpe_bytes_train",
    "q195_wire_rag",
    // round 14: production-radius Hamming banding with its measured
    // recall (the pHash dedup trendline), PDF→text extraction on the
    // codec seam, and the wire→PDF→RAG end-to-end chain (documents
    // riding as base64 PDF attachments — the corpus shape hospital
    // RAG systems actually hold)
    "q202_hamming_eval", "q203_pdf_extract", "q204_wire_pdf_rag",
    // round 14 second wave: SFT conversation assembly (the one-
    // window-per-conversation span layout) and the WordPiece greedy
    // longest-match encode (the corpus-scan-bound tokenizer
    // application shape, native expression over a broadcast vocab)
    "q213_sft_spans", "q217_wordpiece_encode",
    // round 15: the DPO assembly chain (mining + chosen pick + gap +
    // prompt decon) and the Unigram Viterbi encode (the fourth
    // tokenizer's corpus-scan shape). The align-gated recipe (q229)
    // stays OUT on purpose: ~19 s warm at sf0.1 — mostly its per-doc
    // image-render fixture — would be the gate's single biggest lane
    // for a trendline q126 already carries; its rehearsals live in
    // SCALING.md.
    "q228_dpo_pairs", "q231_unigram_encode",
    // round 16: the subword-regularization sampling encode — q231's
    // corpus-scan shape plus the n-best DP and the seeded draw; the
    // trendline for the training-time tokenizer pass a regularized
    // run actually executes
    "q253_unigram_sampled",
    // round 16 second wave: the decode direction (two minings + the
    // allocator + the extended-table decode — the continued-
    // pretraining round trip) and the batch-assembly tier sweep
    // (pad vs split-pack vs no-split-pack incl. the sequential
    // mapGroups fold) — one trendline lane per new family
    "q262_wordpiece_decode", "q270_batch_tier_sweep")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)

    def time(body: => Unit): Double = {
      val t0 = System.nanoTime()
      try body catch { case e: Throwable =>
        System.err.println(s"[bench] failed: ${e.getMessage}"); return -1.0 }
      (System.nanoTime() - t0) / 1e9
    }


    // Drop cached relations/broadcast debris between queries so later
    // queries measure the engine, not accumulated storage pressure.
    // Dataset.persist registers with the shared CacheManager, so
    // clearCache() releases the operator-persisted DataFrames (the LSH
    // signature tables) too; the explicit blocking unpersist of any
    // remaining RDD-level persists keeps the release synchronous instead
    // of racing the async ContextCleaner into the next lane.
    def dropCaches(): Unit =
      try {
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = true))
        System.gc()
      } catch { case e: Throwable =>
        System.err.println(s"[bench] dropCaches failed: ${e.getMessage}") }

    // A lane-setup failure (e.g. an untimed state build) must cost that
    // lane, never the round's whole JSON line.
    def section(label: String)(body: => Unit): Unit =
      try body catch { case e: Throwable =>
        System.err.println(s"[bench] section $label failed: $e") }

    // Noise defense: this machine is co-tenant, and two straight rounds
    // had a lane spike 3-6× purely from neighbor load (r7 q01/q05, r8
    // w1/w4 — each later reproduced clean in isolation). Run every lane
    // `reps` times and report the MIN: the minimum over a few runs is
    // the best available estimate of the lane's uncontended cost, which
    // is the quantity the round-over-round trendline tracks. Cost is
    // ~2× bench wall-clock — well under the cycles burned classifying a
    // phantom regression.
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt.max(1)

    // Raw per-rep wall-clock per lane, emitted verbatim in the JSON
    // (r15 adjudication follow-through): two rounds running, the
    // gate-vs-local delta needed a dedicated investigation — with the
    // rep array IN the artifact, a co-tenant episode is self-evident
    // (one spiked rep next to two quiet ones) and the min/median pair
    // reads directly. Failed reps stay in the array as -1.
    val repLog =
      scala.collection.mutable.LinkedHashMap[String, Seq[Double]]()

    /** Min over `reps` runs. STATEFUL lanes (the fold lanes mutate
      * on-disk state) use the rep index to fold a fresh equivalent
      * batch per rep (new batch id, shifted timestamps) — equal work
      * per rep, state grows only by the small batch between reps.
      * Caches dropped between reps so each measures the engine cold;
      * a failed rep contributes nothing, all-failed reports -1.
      * Every rep's raw time is recorded under `name` for the JSON.
      */
    def timeMinRep(name: String)(body: Int => Unit): Double = {
      val raw = (1 to reps).map { i =>
        val t = time(body(i))
        if (i < reps) dropCaches()
        t
      }
      repLog(name) = raw
      val ts = raw.filter(_ >= 0)
      if (ts.isEmpty) -1.0 else ts.min
    }

    /** Min over `reps` timed runs of the SAME body (idempotent lanes). */
    def timeMin(name: String)(body: => Unit): Double =
      timeMinRep(name)(_ => body)

    // JIT/codegen/IO warmup (untimed) so per-query numbers measure the
    // engine, not first-query JVM startup costs.
    time { spark.range(0, 1000000).selectExpr("sum(id)").collect() }
    time { spark.read.parquet(s"$sfDir/nation.parquet").count() }
    // Wire-machinery pre-warm (untimed, 64 docs): a cold wire→RAG run
    // pays ~20 s over warm — ~3 s Janino compile of ~80 generated
    // classes, the rest HotSpot JIT of the interpreted-HOF HL7 parse
    // + funnel expression machinery (SCALING.md round-15 codegen
    // adjudication; COVERAGE.md round-15 codegen row). The warm-up is
    // per-JVM and transfers across lanes (the expression CLASSES are
    // shared), so one tiny slice here buys q195/q204/w2/w4 their warm
    // shape from rep 1. On a long-lived 100 TB cluster this cost
    // amortizes to noise; the bench pre-warms to measure the engine,
    // not JVM startup.
    time {
      SparkEntry.wireRagChain(spark,
        spark.read.parquet(s"$sfDir/documents.parquet").limit(64),
        "bench_prewarm").count()
    }
    dropCaches()

    val results = scala.collection.mutable.LinkedHashMap[String, Double]()
    for (name <- headline; fn <- SparkEntry.queries.get(name)) {
      System.err.println(s"[bench] running $name")
      results(name) = timeMin(name) { fn(spark, sfDir).count() }
      System.err.println(f"[bench] $name: ${results(name)}%.2f s")
      dropCaches()
    }

    // HL7 wire ingest: render every event row as a raw ADT message and
    // push it through the full parse (segment split, field/component
    // extraction, DTM parse, trigger routing) — messages/s is the
    // ingest-front-end headline (reference envelope is ~10-100 msg/s
    // sustained; BASELINE.md).
    results("w2_wire_parse") = timeMin("w2_wire_parse") {
      val q44 = SparkEntry.queries("q44_hl7_wire")
      require(q44(spark, sfDir).count() > 0)
    }
    dropCaches()

    // Nested-lab wire ingest (the heaviest parse: WinPath builder with
    // isolate merge + sensitivity re-parenting): a BOUNDED 10k-message
    // run so lab-builder perf regressions show in the headline without
    // tying the bench to the SF row count.
    results("w4_lab_wire") = timeMin("w4_lab_wire") {
      import org.apache.spark.sql.functions._
      val k = col("id").cast("string")
      val raw = concat_ws("\r",
        concat(lit("MSH|^~\\&|WinPath|UCLH|||20240501120000||ORU^R01|W"),
          k, lit("|P|2.4")),
        concat(lit("PID|1||M"), k, lit("^^^MRN^MRN")),
        concat(lit("ORC|RE|EP"), k, lit("|"), lpad(k, 10, "0"), lit("||CM")),
        concat(lit("OBR|1|EP"), k, lit("|"), lpad(k, 10, "0"),
          lit("|MCU^CULTURE^WinPath|||20240501100000"), lit("|" * 15),
          lit("20240501113000||HAEM|F")),
        concat(lit("OBX|1|CE|ISOLATE^Isolate^WinPath|1|ISO"), k,
          lit("^Bug^WinPath||||||F")),
        concat(lit("OBX|2|NM|WCC^WCC^WinPath||"),
          (pmod(col("id"), lit(120)) + 40).cast("string"),
          lit("|10*9/L|||||F")),
        concat(lit("ORC|RE|EP"), k, lit("|"), lpad(k, 10, "0"), lit("||CM")),
        concat(lit("OBR|2|EP"), k, lit("|"), lpad(k, 10, "0"),
          lit("|SENS^Sens^WinPath|||20240501100000"), lit("|" * 6),
          lit("CLIN"), lit("|" * 9), lit("20240501113000||HAEM|F|"),
          lit("ISOLATE&Isolate&WinPath^1")),
        concat(lit("OBX|1|ST|AG^Agent^WinPath||S||||||F")))
      val msgs = spark.range(10000).repartition(
        spark.sparkContext.defaultParallelism).withColumn("raw", raw)
      require(graft.sources.LabFunnel.parseWinPathResults(msgs, "raw")
        .count() > 0)
    }
    dropCaches()

    // Waveform ingest: generate + collate 540k samples (30 locs × 300 Hz
    // × 60 s, 40 samples/msg) into ≤3000-sample rows.
    results("w1_waveform_collate") = timeMin("w1_waveform_collate") {
      import spark.implicits._
      implicit val s: SparkSession = spark
      val msgs = graft.sources.WaveformGenerator
        .messages(spark, nLocations = 30, rateHz = 300, seconds = 60,
          samplesPerMsg = 40)
        .as[graft.streaming.WaveformCollator.WaveMsg]
      val chunks = graft.streaming.WaveformCollator.collateBatch(msgs)
      require(chunks.count() > 0)
    }

    // Incremental star fold: the write path's headline scale property —
    // a micro-batch folds in time proportional to ITS key spread, not to
    // accumulated state. Untimed: fold the full events table into a
    // 64-bucket state. Timed lanes:
    //   w3  — a ~2%-of-keys update batch whose keys spread over ALL 64
    //         buckets (a full-state fold: the worst case);
    //   w3b — a similar-sized batch whose keys all hash into ONE bucket
    //         (the incremental property: cost tracks the touched-bucket
    //         fraction, ~1/64 of the state, not the batch row count);
    //   w5  — the same small batch through the BITEMPORAL fold (stored
    //         axis diff on top of the valid fold; budget: within 2× w3).
    section("fold") {
      import org.apache.spark.sql.functions._
      val root = graft.SparkEntry.tmpDir("bench_fold")
      val cfg = graft.streaming.StarPipeline.Config(root, Seq("user_id"),
        "ts_us", "event_id", Seq("event_type", "value"), nBuckets = 64)
      // canonical epoch-µs derivation shared with the oracle queries
      val e = SparkEntry.eventsUs(spark, sfDir)
        .select("user_id", "ts_us", "event_id", "event_type", "value")
      graft.streaming.StarPipeline.foldBatch(e, 1L, cfg) // state build
      // per-rep fresh equivalent batch: shifting ts and event_id per rep
      // keeps every rep a REAL fold (same ts/event_id would lag-dedup to
      // a cheap no-op and distort the min); day ranges are disjoint
      // between the w3 and w3b rep families so their key overlaps never
      // collide on (key, ts, event_id).
      def small(rep: Int) =
        e.filter(pmod(xxhash64(col("user_id")), lit(50)) === 0)
          .withColumn("ts_us", col("ts_us") + rep * 86400L * 1000000L)
          .withColumn("event_id", col("event_id") + rep * 100000000L)
      results("w3_incremental_fold") = timeMinRep("w3_incremental_fold") {
        rep =>
        graft.streaming.StarPipeline.foldBatch(small(rep), 100L + rep, cfg) }
      // keys of bucket 0 only (same hash the pipeline buckets by)
      def oneBucket(rep: Int) = e
        .filter(pmod(xxhash64(col("user_id")), lit(64)) === 0)
        .withColumn("ts_us", col("ts_us") + (100 + rep) * 86400L * 1000000L)
        .withColumn("event_id", col("event_id") + (100 + rep) * 100000000L)
      results("w3b_bucket_local_fold") =
        timeMinRep("w3b_bucket_local_fold") { rep =>
        graft.streaming.StarPipeline.foldBatch(oneBucket(rep), 200L + rep, cfg) }

      val rootB = graft.SparkEntry.tmpDir("bench_btfold")
      val cfgB = graft.streaming.StarPipeline.Config(rootB, Seq("user_id"),
        "ts_us", "event_id", Seq("event_type", "value"), nBuckets = 64,
        storedFromUsCol = "stored_us")
      val eb = e.withColumn("stored_us", lit(1700000000000000L))
      graft.streaming.StarPipeline.foldBatchBitemporal(eb, 1L, cfgB)
      results("w5_bitemporal_fold") = timeMinRep("w5_bitemporal_fold") {
        rep =>
        graft.streaming.StarPipeline.foldBatchBitemporal(
          small(rep).withColumn("stored_us",
            lit(1700000100000000L) + rep * 1000000L), 100L + rep, cfgB) }
    }

    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.values.filter(_ >= 0).sum
    // per-lane raw rep arrays + medians: "queries" stays the min (the
    // uncontended-cost estimate the trendline tracks); "reps" makes
    // co-tenant spikes self-evident in the artifact; "median" is the
    // noise-robust companion the reader compares against the min
    def fmt(d: Double) = f"$d%.4f"
    val repsJson = repLog.map { case (k, ts) =>
      "\"" + k + "\":[" + ts.map(fmt).mkString(",") + "]"
    }.mkString("{", ",", "}")
    val medJson = repLog.map { case (k, ts) =>
      val ok = ts.filter(_ >= 0).sorted
      val med = if (ok.isEmpty) -1.0 else ok(ok.length / 2)
      "\"" + k + "\":" + fmt(med)
    }.mkString("{", ",", "}")
    // The rep arrays + medians go on their OWN line: round 16 put them
    // inside the final JSON line and the driver's tail capture truncated
    // the line's *start*, leaving PERF with no per-query data at all.
    // The harness contract is the compact final line; diagnostics first.
    println(s"""{"metric":"reps","median":$medJson,"reps":$repsJson}""")
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir"}""")
    spark.stop()
  }
}
