package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.kernel.BitemporalKernel

import java.nio.file.Files

/** Plan-shape regression tests: the SCALING.md claims as assertions.
  * These lock the 100× properties in — a refactor that sneaks a second
  * shuffle into the kernel fold, loses a broadcast, or breaks the
  * narrow wire parse fails HERE, not in a cluster.
  */
class PlanShapeSpec extends SparkSpecBase {
  import spark.implicits._

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def countIn(p: String, needle: String): Int =
    needle.r.findAllIn(p).length

  test("kernel fold: ONE hash exchange; windows share the partitioning") {
    val state = Seq((1L, 1000L, 1L, "a")).toDF("key", "ts_us", "msg_id", "v")
    val batch = Seq((1L, 2000L, 2L, "b"), (2L, 1000L, 3L, "c"))
      .toDF("key", "ts_us", "msg_id", "v")
    val r = BitemporalKernel.applyBatch(state, batch, Seq("key"),
      "ts_us", "msg_id", Seq("v"))
    val p = plan(r.history)
    // one Exchange for the union'd fold; dedup + F6 + stamping windows
    // all reuse it (AQE wraps the final plan, count the exchange ops)
    assert(countIn(p, "Exchange hashpartitioning") == 1, p)
  }

  test("dim enrich: small dimension broadcasts, no sort-merge join") {
    val facts = spark.range(0, 10000)
      .select(col("id"), pmod(col("id"), lit(25)).as("nk"))
    val dim = Seq((0L, "UK"), (1L, "FR")).toDF("nk", "name")
    val joined = facts.join(broadcast(dim), Seq("nk"))
    val p = plan(joined)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("wire parse is a narrow projection: zero exchanges") {
    val raws = Seq(
      "MSH|^~\\&|EPIC|F|||20240101000000||ADT^A01|M1|P|2.4\r" +
        "PID|1||P1^^^MRN^MRN").toDF("raw")
    val p = plan(graft.sources.Hl7Wire.parseAdt(raws, "raw"))
    assert(countIn(p, "Exchange") == 0, p)
  }

  test("text stats are shuffle-free per-row expressions") {
    val docs = Seq((1L, "some text here")).toDF("doc_id", "text")
    val p = plan(graft.operators.TextAnalysis.stats(docs, "doc_id", "text"))
    assert(countIn(p, "Exchange") == 0, p)
  }

  test("wire explodes leak no parse expression into a Filter " +
      "(InferFiltersFromGenerate would double every parse)") {
    // a Filter predicate containing an array higher-order function means
    // the optimizer substituted a generator child (the parse itself)
    // into an inferred size() check — the whole parse then runs twice
    // per row. The explode_outer + attribute-null-filter shape keeps
    // predicates down to one attribute comparison.
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter}
    import org.apache.spark.sql.catalyst.expressions.HigherOrderFunction
    def hofFilters(df: DataFrame): Seq[String] =
      df.queryExecution.optimizedPlan.collect {
        case f: LFilter if f.condition.exists(_.isInstanceOf[HigherOrderFunction]) =>
          f.condition.toString.take(120)
      }
    val raws = Seq(
      "MSH|^~\\&|WinPath|UCLH|||20240501120000||ORU^R01|W1|P|2.4\r" +
        "PID|1||M1^^^MRN^MRN\r" +
        "ORC|RE|EP1|123456789||CM\r" +
        "OBR|1|EP1|123456789|FBC^FBC^WinPath|||20240501100000\r" +
        "OBX|1|NM|HGB^Hb^WinPath||13.5|g/dL|||||F").toDF("raw")
    for (parsed <- Seq(
        graft.sources.LabFunnel.parseWinPathResults(raws, "raw"),
        graft.sources.LabFunnel.parseCoPath(raws, "raw"),
        graft.sources.LabFunnel.parseImage(raws, "raw"),
        graft.sources.Hl7Wire.parseLabOrders(raws, "raw"),
        graft.sources.Hl7Wire.parseFlowsheets(raws, "raw")))
      assert(hofFilters(parsed).isEmpty, hofFilters(parsed).mkString("; "))
  }

  test("brute-force ANN top-k keeps the partial-limit optimization") {
    val emb = (0L to 50L).map(i => (i, Array.fill(4)(i.toFloat)))
      .toDF("emb_id", "embedding")
    val p = plan(graft.operators.Ann.bruteForceTopK(
      emb.limit(2), emb, "emb_id", "embedding", k = 3))
    // Spark 4 WindowGroupLimit = per-partition top-k BEFORE the shuffle;
    // losing it turns top-k into a full sort of all candidates
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("infection gate: no single-partition window (scales out)") {
    val df = (1L to 200L).map(i => (s"M$i", i % 7, 1000000L * (i % 50)))
      .toDF("sourceMessageId", "infectionIdx", "addedTimeUs")
    val gated = graft.sources.Hl7Wire.infectionGate(df, 0L,
      Seq("sourceMessageId", "infectionIdx"))
    val p = plan(gated)
    assert(!p.contains("Exchange SinglePartition"), p)
    // and the two-phase prefix max agrees with the serial fold
    val serial = {
      val rows = df.orderBy("sourceMessageId", "infectionIdx")
        .select("sourceMessageId", "infectionIdx", "addedTimeUs")
        .as[(String, Long, Long)].collect()
      var mark = 0L
      rows.filter { case (_, _, added) =>
        val keep = added >= mark
        if (keep) mark = math.max(mark, added)
        keep
      }.map(r => (r._1, r._2)).toSet
    }
    val got = gated.select("sourceMessageId", "infectionIdx")
      .as[(String, Long)].collect().toSet
    assert(got == serial)
  }

  test("persisted IVF index: probes partition-prune the scan; appends " +
      "compose to the same index") {
    import graft.operators.Ann
    val vecs = (0L to 40L).map(i =>
      (i, Array.fill(4)((i % 5).toFloat + 1f), (i % 5).toInt))
      .toDF("vec_id", "embedding", "label")
    val one = java.nio.file.Files.createTempDirectory("ivf_one").toString
    val two = java.nio.file.Files.createTempDirectory("ivf_two").toString
    Ann.ivfIndexAppend(vecs, "vec_id", "embedding", col("label"), one, 1L)
    Ann.ivfIndexAppend(vecs.filter(col("vec_id") < 20), "vec_id",
      "embedding", col("label"), two, 1L)
    Ann.ivfIndexAppend(vecs.filter(col("vec_id") >= 20), "vec_id",
      "embedding", col("label"), two, 2L)

    val qs = vecs.filter(col("vec_id") < 3)
      .withColumn("probes", array(col("label").cast("long")))
    def res(dir: String) = Ann.ivfIndexQuery(spark, dir, qs, "vec_id",
        "embedding", "probes", k = 2)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Long)].collect().toSet
    assert(res(one) == res(two) && res(one).nonEmpty)

    // the probe set reaches the scan as a partition filter — only the
    // probed cluster directories are read
    val p = plan(Ann.ivfIndexQuery(spark, two, qs, "vec_id", "embedding",
      "probes", k = 2))
    assert(p.contains("PartitionFilters") && p.contains("cluster"), p)
    assert(!p.contains("PartitionFilters: []"), p)
  }

  test("bitemporal liveConditions pushes IsNull stamps to the scan") {
    val root = Files.createTempDirectory("planshape_btlive").toString
    graft.streaming.WirePipeline.foldBatch(Seq(
      "MSH|^~\\&|EPIC|Problem List|||20240101100000|X|PPR^PC1|L1|P|2.4\r" +
        "PID|1||M1^^^MRN^MRN\r" +
        "PRB|AD|20240101100000|C1^Asthma^I10UK|700|||20240101100000")
      .toDF("raw"), 1L, "raw", root, bitemporal = true)
    // the open-record filter of the live view reaches the bt_table scan
    val p = plan(graft.streaming.WirePipeline.liveConditions(spark, root,
      bitemporal = true).get)
    val pushed = "PushedFilters: \\[[^\\]]*".r.findAllIn(p).toSeq
    assert(pushed.size == 1, p)
    assert(pushed.head.contains("IsNull(stored_until_us)") &&
      pushed.head.contains("IsNull(valid_until_us)"), p)
  }

  test("stratified sample and PII scrub are shuffle-free per-row work") {
    val docs = Seq((1L, "en", "some text a@b.co")).toDF("doc_id", "lang", "text")
    val pSample = plan(graft.operators.TextAnalysis.stratifiedSample(
      docs, "doc_id", "lang", Map("en" -> 0.5)))
    assert(countIn(pSample, "Exchange") == 0, pSample)
    val pScrub = plan(graft.operators.TextAnalysis.piiScrub(docs, "doc_id", "text"))
    assert(countIn(pScrub, "Exchange") == 0, pScrub)
  }

  test("decontamination broadcasts the benchmark set; the training " +
      "shingle stream is never shuffled (one agg exchange only)") {
    val docs = Seq((1L, "a b c d e")).toDF("doc_id", "text")
    val bench = Seq((9L, "c d e f")).toDF("doc_id", "text")
    val p = plan(graft.operators.TextAnalysis.decontaminate(
      docs, bench, "doc_id", "text", "text", shingleN = 3))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // the TRAINING side shuffles exactly once — the per-doc aggregation,
    // pre-reduced by partial aggregation. (The benchmark side's distinct
    // has its own exchange, but that's the eval-sized set feeding the
    // broadcast, never the 100 TB side.)
    assert(countIn(p, "Exchange hashpartitioning\\(doc_id") == 1, p)
    assert(p.contains("partial_count"), p)
  }

  test("bloom decontamination broadcasts the bit-position set; the " +
      "training side shuffles only its two pre-reduced aggs") {
    val docs = Seq((1L, "a b c d e")).toDF("doc_id", "text")
    val bench = Seq((9L, "c d e f")).toDF("doc_id", "text")
    val p = plan(graft.operators.TextAnalysis.bloomDecontaminate(
      docs, bench, "doc_id", "text", "text", shingleN = 3,
      kHashes = 3, mBits = 1024))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // training-side exchanges: the per-(doc, shingle) all-k regroup
    // and the per-doc rollup — both carried partial-aggregated; the
    // bloom's own distinct feeds the broadcast (bounded by m)
    assert(countIn(p, "Exchange hashpartitioning\\(doc_id") == 2, p)
    assert(p.contains("partial_count"), p)
  }

  test("bm25: query terms reach the postings as a broadcast; top-k " +
      "pushes a WindowGroupLimit; nothing sort-merges") {
    val docs = Seq((1L, "a b c"), (2L, "b c d")).toDF("doc_id", "text")
    val (post, dls) = graft.operators.Lexical.buildPostings(
      docs, "doc_id", "text")
    val qs = Seq((1L, Seq("a", "b"))).toDF("query_id", "terms")
    val p = plan(graft.operators.Lexical.bm25Search(post, dls, qs,
      "query_id", "terms", 5))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // per-query top-k: partial top-k before the final rank filter
    assert(p.contains("WindowGroupLimit"), p)
    // the (query, doc) score sum pre-reduces map-side
    assert(p.contains("partial_sum"), p)
  }

  test("heavy hitters: per-batch top-C is a TakeOrdered (no " +
      "single-task vocabulary sort); the sketch probes as a broadcast") {
    val docs = Seq((1L, "a b a"), (2L, "b c d")).toDF("doc_id", "text")
    val p1 = plan(graft.operators.Sketches.topCandidates(docs, "text", 4))
    assert(p1.contains("TakeOrderedAndProject"), p1)
    val p2 = plan(graft.operators.Sketches.heavyHitters(docs, "text",
      c = 4, k = 2, depth = 3, width = 64))
    assert(p2.contains("BroadcastHashJoin"), p2)
    assert(!p2.contains("SortMergeJoin"), p2)
  }

  test("bottom-k sample is a TakeOrdered — the corpus never globally " +
      "sorts for a fixed-budget sample") {
    val docs = (0L until 8L).map(i => (i, "x")).toDF("doc_id", "text")
    val p = plan(graft.operators.TextAnalysis.bottomKSample(
      docs, "doc_id", 3))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("incremental decontamination is a zero-Exchange per-row scan " +
    "(round 16: the frozen index rides a broadcast into the kernel)") {
    // parquet-backed docs: a LocalRelation would constant-fold the
    // whole per-row gate away and the plan would show nothing
    val docsDir = java.nio.file.Files
      .createTempDirectory("decon_docs_plan").toString
    Seq((1L, "a b c d e")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(docsDir)
    val docs = spark.read.parquet(docsDir)
    val bench = Seq((9L, "c d e f")).toDF("doc_id", "text")
    val idx = java.nio.file.Files
      .createTempDirectory("bench_idx_plan").toString
    graft.operators.TextAnalysis.buildBenchmarkIndex(bench, "text", 3, idx)
    val p = plan(graft.operators.TextAnalysis.decontaminateIncremental(
      spark, idx, docs, "doc_id", "text", shingleN = 3))
    // the whole gate is one per-row projection: no join of any kind,
    // no gate aggregation, nothing shuffles (guide §2.4 — the 100 TB
    // training side is never exchanged for a per-row-pure decision)
    assert(countIn(p, "Exchange") == 0, p)
    assert(!p.contains("Join"), p)
    assert(p.contains("shingle_overlap"), p)
  }

  test("sequence packing: one exchange, reused by the window cumsum") {
    val docs = Seq((1L, "s", "a b"), (2L, "s", "c")).toDF("doc_id", "source", "text")
    val p = plan(graft.operators.TextAnalysis.packSequences(
      docs, "doc_id", "source", "text", chunkTokens = 8))
    assert(countIn(p, "Exchange hashpartitioning") == 1, p)
  }

  test("DSIR scoring joins the bucket table as a broadcast — the " +
      "corpus-sized feature stream is never sort-merge joined") {
    val docs = Seq((1L, "a b c")).toDF("doc_id", "text")
    val p = plan(graft.operators.TextAnalysis.dsirWeights(
      docs, docs, "doc_id", "text", nBuckets = 1024))
    assert(p.contains("BroadcastHashJoin"), p)
    // the feature stream shuffles only into aggregates (bucket counts,
    // per-doc score) — never as a join side
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
  }

  test("BPE pair counting: one corpus pass — word agg + pair agg are " +
      "the only exchanges, pair generation is in-row") {
    val docs = Seq((1L, "abab ab")).toDF("doc_id", "text")
    val p = plan(graft.operators.TextAnalysis.bpePairCounts(docs, "text"))
    assert(countIn(p, "Exchange hashpartitioning") == 2, p)
    assert(countIn(p, "SortMergeJoin") == 0, p)
  }

  test("PQ encode is a zero-shuffle per-row projection — the 100 TB " +
      "compression pass never exchanges") {
    val vs = Seq((0L, Seq(0f, 0f, 1f, 1f)), (1L, Seq(1f, 1f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val cbs = Seq(Seq(Seq(0.0, 0.0), Seq(1.0, 1.0)),
      Seq(Seq(1.0, 1.0), Seq(0.0, 0.0)))
    val p = plan(graft.operators.Ann.pqEncode(vs, "vec_id", "embedding", cbs))
    assert(countIn(p, "Exchange") == 0, p)
  }

  test("BPE encode is a zero-shuffle per-row rewrite — the 100 TB " +
      "tokenizer pass never exchanges; the merge table rides in-plan") {
    val docs = Seq((1L, "abab ab")).toDF("doc_id", "text")
    val p = plan(graft.operators.TextAnalysis.bpeEncode(
      docs, "doc_id", "text", Seq("a" -> "b", "ab" -> "ab")))
    assert(countIn(p, "Exchange") == 0, p)
    val pc = plan(graft.operators.TextAnalysis.tokenCounts(
      docs, "doc_id", "text", Seq("a" -> "b")))
    assert(countIn(pc, "Exchange") == 0, pc)
  }

  test("bucketed tables join WITHOUT an exchange — the co-located " +
      "big-big join SCALING.md promises") {
    val wh = java.nio.file.Files
      .createTempDirectory("bucket_wh").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS bspec LOCATION '$wh'")
    try {
      spark.range(0, 10000)
        .select(col("id").as("k"), (col("id") * 2).as("a"))
        .write.bucketBy(8, "k").sortBy("k")
        .mode("overwrite").saveAsTable("bspec.left_t")
      spark.range(0, 10000)
        .select(col("id").as("k"), (col("id") * 3).as("b"))
        .write.bucketBy(8, "k").sortBy("k")
        .mode("overwrite").saveAsTable("bspec.right_t")
      val joined = spark.table("bspec.left_t")
        .join(spark.table("bspec.right_t"), Seq("k"))
        .filter(col("a") + col("b") >= 0)
      // force a sort-merge join (no broadcast) to prove the bucketing
      // carries the partitioning: zero Exchange in the whole plan
      val p = spark.table("bspec.left_t").hint("merge")
        .join(spark.table("bspec.right_t").hint("merge"), Seq("k"))
        .queryExecution.executedPlan.toString
      assert(countIn(p, "Exchange") == 0, p)
      assert(joined.count() == 10000)
    } finally {
      spark.sql("DROP TABLE IF EXISTS bspec.left_t")
      spark.sql("DROP TABLE IF EXISTS bspec.right_t")
      spark.sql("DROP DATABASE IF EXISTS bspec")
    }
  }

  test("BPE id encoding joins the vocab as a broadcast — the corpus " +
      "side never sort-merges against a vocab-sized table") {
    val docs = Seq((1L, "abab ab")).toDF("doc_id", "text")
    val merges = Seq("a" -> "b")
    val vocab = graft.operators.TextAnalysis.bpeVocab(docs, "text", merges)
    val p = plan(graft.operators.TextAnalysis.bpeEncodeIds(
      docs, "doc_id", "text", merges, vocab))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("mixToTarget: the caps side reaches the corpus as a broadcast " +
      "(strata-sized), never a sort-merge join") {
    val docs = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "lang")
    val p = plan(graft.operators.TextAnalysis.mixToTarget(
      docs, "doc_id", "lang", Map("a" -> 5000L, "b" -> 5000L)))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("capped windows push a partial top-k BEFORE the exchange " +
      "(WindowGroupLimit) — a hot domain/stratum never full-sorts in " +
      "one task") {
    val docs = Seq((1L, "d1"), (2L, "d1"), (3L, "d2"))
      .toDF("doc_id", "source")
    val pCap = plan(graft.operators.TextAnalysis.domainCap(
      docs, "doc_id", "source", maxPerDomain = 2))
    assert(pCap.contains("WindowGroupLimit"), pCap)
    val pMix = plan(graft.operators.TextAnalysis.mixToTarget(
      docs.withColumnRenamed("source", "lang"), "doc_id", "lang",
      Map("d1" -> 5000L, "d2" -> 5000L)))
    assert(pMix.contains("WindowGroupLimit"), pMix)
  }

  test("lmScoreIncremental joins the persisted model as a broadcast — " +
      "the 100 TB batch side never shuffles on the Zipf-hot token key") {
    val docs = Seq((1L, "the cat"), (2L, "the dog")).toDF("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("lm_idx").toString
    graft.operators.TextAnalysis.lmIndexAppend(docs, "text", idx, 1L)
    val p = plan(graft.operators.TextAnalysis.lmScoreIncremental(
      spark, idx, docs, "doc_id", "text", 0.2, 0.1))
    // the model attaches via broadcast (LeftOuter BuildRight) — the
    // batch side's only exchanges are its (doc_id, tok) pre-reduction
    // and the per-doc agg; a sort-merge join on tok would shuffle the
    // corpus token stream on the Zipf-hot key
    assert(countIn(p, "BroadcastHashJoin") >= 1, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("hashEmbed: two pre-reduced aggregates and the id left-join — " +
      "no exchange keyed on the raw token stream") {
    val docs = Seq((1L, "the cat"), (2L, "the dog")).toDF("doc_id", "text")
    val p = plan(graft.operators.Embed.hashEmbed(docs, "doc_id", "text", 8))
    // (doc,bucket) agg and per-doc map agg share doc-keyed exchanges;
    // the token explosion itself is never a shuffle key
    assert(countIn(p, "Exchange hashpartitioning\\(tok") == 0, p)
    assert(countIn(p, "Exchange hashpartitioning\\(b[,#]") == 0, p)
  }

  test("groupQuantiles ranks ONCE for any number of quantiles: the " +
      "Window count and the exchange count do not grow with m") {
    val vals = Seq(("a", 1L), ("a", 2L), ("a", 3L), ("b", 4L))
      .toDF("lang", "len")
    def shape(qs: Seq[Long]) = {
      val p = plan(graft.operators.Profile.groupQuantiles(
        vals, "lang", "len", qs))
      (countIn(p, "Window"), countIn(p, "Exchange hashpartitioning"))
    }
    val one = shape(Seq(5000L))
    val many = shape(Seq(100L, 2500L, 5000L, 7500L, 9000L, 9900L, 9999L))
    assert(one == many, s"$one vs $many")
    assert(one._2 == 1, s"windows share one exchange: $one")
  }

  test("quantizedTopK: the scan stays a broadcast-driven generated " +
      "int8 loop — native dot in the plan, partial top-k preserved, " +
      "no sort-merge join") {
    val emb = (0L to 50L).map(i => (i, Array.fill(4)(i.toFloat + 1f)))
      .toDF("vec_id", "embedding")
    val p = plan(graft.operators.Ann.quantizedTopK(
      emb.limit(2), emb, "vec_id", "embedding", k = 3))
    assert(p.contains("int8_dot"), p)
    assert(p.contains("WindowGroupLimit"), p)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("cutBoilerplateFromIndex: the above-bar hash sliver reaches the " +
      "corpus windows as a broadcast — the window stream never " +
      "shuffles on the hash key") {
    val docs = Seq((1L, "a b c d"), (2L, "a b c e")).toDF("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("bp_plan").toString
    graft.operators.Dedup.boilerplateIndexAppend(docs, "doc_id", "text",
      3, idx, 1L)
    val p = plan(graft.operators.Dedup.cutBoilerplateFromIndex(
      spark, idx, docs, "doc_id", "text", 3, 1L))
    assert(countIn(p, "BroadcastHashJoin") >= 1, p)
    // exactly ONE h-keyed exchange — the INDEX-side partial-sum
    // aggregate (index-sized, unavoidable); the corpus window stream
    // itself joins the broadcast sliver and never exchanges on h
    assert(countIn(p, "Exchange hashpartitioning\\(h#") == 1, p)
  }

  test("chunkWindows is shuffle-free: per-row expressions + one " +
      "Generate, no Exchange") {
    val docs = Seq((1L, "a b c d e f g h")).toDF("doc_id", "text")
    val p = plan(graft.operators.TextAnalysis.chunkWindows(
      docs, "doc_id", "text", windowTokens = 4, strideTokens = 2))
    assert(countIn(p, "Exchange") == 0, p)
  }

  test("qualityFunnel is a zero-shuffle per-row projection") {
    val docs = Seq((1L, "some text here")).toDF("doc_id", "text")
    val p = plan(graft.operators.TextAnalysis.qualityFunnel(
      docs, "doc_id", "text", langs = Seq("en")))
    assert(countIn(p, "Exchange") == 0, p)
  }

  test("cleanLines is a zero-shuffle per-row projection") {
    val docs = Seq((1L, "HOME\nreal body line here\nHOME"))
      .toDF("doc_id", "text")
    val p = plan(graft.operators.TextAnalysis.cleanLines(
      docs, "doc_id", "text"))
    assert(countIn(p, "Exchange") == 0, p)
  }

  test("stratifiedQualityCut: literal-bounded per-stratum window " +
      "(partial top-k pushed), caps broadcast, no single-partition " +
      "window") {
    val docs = (1L to 60L).map(i => (i, s"s${i % 3}", i.toDouble))
      .toDF("doc_id", "src", "score")
    val p = plan(graft.operators.TextAnalysis.stratifiedQualityCut(
      docs, "doc_id", "src", "score", keepFrac10k = 2000L))
    assert(p.contains("WindowGroupLimit"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("Exchange SinglePartition"), p)
  }

  test("ivfQuantizedTopK: the probe join is a broadcast equi-join on " +
      "the cluster id (prunable), scoring is the native int8 dot") {
    val vecs = (0L to 50L).map(i =>
      (i, Array.fill(4)(i.toFloat + 1f), (i % 3).toInt))
      .toDF("vec_id", "embedding", "label")
    val qs = vecs.filter(col("vec_id") < 2)
      .withColumn("probes", array(col("label").cast("long")))
    val p = plan(graft.operators.Ann.ivfQuantizedTopK(
      qs, vecs, "vec_id", "embedding", "label", "probes", k = 3))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("int8_dot"), p)
    assert(p.contains("WindowGroupLimit"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("bpeDecode: vocab attaches as a broadcast; the id stream pays " +
      "exactly ONE exchange (the per-doc reassembly)") {
    val enc = Seq((1L, 0L, 0L), (1L, 1L, 1L), (2L, 0L, 0L))
      .toDF("doc_id", "pos", "token_id")
    val vocab = Seq((0L, "▁a"), (1L, "b")).toDF("token_id", "token")
    val p = plan(graft.operators.TextAnalysis.bpeDecode(enc, vocab))
    assert(countIn(p, "BroadcastHashJoin") == 1, p)
    assert(countIn(p, "Exchange hashpartitioning") == 1, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("extractHtml is a zero-shuffle per-row projection — raw HTML " +
      "extracts at scan speed") {
    val docs = Seq((1L, "<html><body><p>hi <b>x</b></p></body></html>"))
      .toDF("doc_id", "html")
    val p = plan(graft.operators.TextAnalysis.extractHtml(
      docs, "doc_id", "html"))
    assert(countIn(p, "Exchange") == 0, p)
  }

  test("fuzzy decontamination: every benchmark attachment (buckets and " +
      "signatures) is a broadcast — the only sort-merge is the final " +
      "id-skinny report join, never the bucket or signature paths") {
    val docs = (1L to 40L).map(i =>
      (i, s"alpha beta gamma delta epsilon w$i x$i y$i z$i q$i"))
      .toDF("doc_id", "text")
    val bench = Seq((100L, "alpha beta gamma delta epsilon zeta eta " +
      "theta iota kappa")).toDF("doc_id", "text")
    val p = plan(graft.operators.TextAnalysis.fuzzyDecontaminate(
      docs, bench, "doc_id", "text", "doc_id", "text"))
    assert(countIn(p, "BroadcastHashJoin") >= 2, p) // buckets + sigs
    // bucket-cell candidates and both signature attachments must ride
    // broadcasts; the per-doc report left-join (corpus ids × matched
    // sliver, both skinny) may sort-merge — that one is shape-safe
    assert(!p.contains("SortMergeJoin [band"), p)
    assert(!p.contains("SortMergeJoin [bench_id"), p)
    assert(countIn(p, "SortMergeJoin") <= 1, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("byte-level BPE encode is a zero-shuffle per-row rewrite (the " +
      "q104 shape over the byte base)") {
    val docs = Seq((1L, "ab ab cd")).toDF("doc_id", "text")
    val p = plan(graft.operators.TextAnalysis.bpeEncodeBytes(
      docs, "doc_id", "text", Seq(("61", "62"))))
    assert(countIn(p, "Exchange") == 0, p)
  }

  test("vectorIndexDriftReport: centroids attach as a broadcast; the " +
      "code scan pays one aggregate exchange and never sort-merges") {
    val vecs = (0L to 19L).map(i =>
      (i, Array.fill(4)((i % 2).toFloat + 1f), (i % 2).toInt))
      .toDF("vec_id", "embedding", "label")
    val idx = java.nio.file.Files
      .createTempDirectory("drift_plan").toString
    graft.operators.Ann.sq8IndexAppend(vecs, "vec_id", "embedding",
      col("label"), idx, 1L)
    val cents = Seq(Seq(1.0, 1.0, 1.0, 1.0), Seq(2.0, 1.0, 1.0, 1.0))
    val p = plan(graft.operators.Ann.vectorIndexDriftReport(
      spark, idx, cents))
    assert(countIn(p, "BroadcastHashJoin") == 1, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("WordPiece.encode is a zero-shuffle per-row projection — the " +
      "broadcast-vocab greedy match runs at scan speed (q217 shape)") {
    val docs = Seq((1L, "ab a b")).toDF("doc_id", "text")
    val vocab = Seq(("a", 2L), ("b", 2L), ("ab", 1L), ("##b", 1L))
      .toDF("piece", "cnt")
    val p = plan(graft.operators.WordPiece.encode(
      docs, "doc_id", "text", vocab, matchHorizon = 6,
      maxInputChars = 16))
    assert(countIn(p, "Exchange") == 0, p)
  }

  test("Unigram.encode is a zero-shuffle per-row projection — the " +
      "broadcast-table Viterbi runs at scan speed (q231 shape, the " +
      "WordPiece lock's fourth-tokenizer twin)") {
    val docs = Seq((1L, "ab a b")).toDF("doc_id", "text")
    val vocab = Seq(("a", 2L), ("b", 2L), ("ab", 1L))
      .toDF("piece", "cnt")
    val p = plan(graft.operators.Unigram.encode(
      docs, "doc_id", "text", vocab, matchHorizon = 6,
      maxInputChars = 9))
    assert(countIn(p, "Exchange") == 0, p)
  }

  test("Preference.assemble: the corpus joins are ALL broadcast — " +
      "no SortMergeJoin anywhere (pairs are tiny by contract, the " +
      "corpus streams through scored scans)") {
    val corpus = Seq((0L, Seq(1.0f, 0.0f)), (10L, Seq(0.8f, 0.6f)),
      (20L, Seq(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val pairs = Seq((0L, 10L)).toDF("query_id", "pos_id")
    val negs = graft.operators.Ann.hardNegatives(pairs, corpus,
      "vec_id", "embedding", k = 2)
    val p = plan(graft.operators.Preference.assemble(pairs, negs,
      corpus, "vec_id", "embedding", minGap10k = 0L,
      pairsPerPrompt = 2))
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("Conversations: spans pay exactly ONE exchange (the per-" +
      "conversation window); render pays exactly ONE (the groupBy)") {
    val turns = Seq((1L, 0L, "user", "hi"), (1L, 1L, "assistant", "yo"))
      .toDF("conv_id", "turn_idx", "role", "text")
    val ps = plan(graft.operators.Conversations.spans(
      turns, "conv_id", "turn_idx", "role", "text"))
    assert(countIn(ps, "Exchange hashpartitioning") == 1, ps)
    val pr = plan(graft.operators.Conversations.render(
      turns, "conv_id", "turn_idx", "role", "text"))
    assert(countIn(pr, "Exchange hashpartitioning") == 1, pr)
    assert(!pr.contains("SortMergeJoin"), pr)
    // truncate runs three windows (min/max, DESC suffix cumsum, ASC
    // span cumsum) — all on conv_id, so the shuffle happens ONCE
    val pt = plan(graft.operators.Conversations.truncate(
      turns, "conv_id", "turn_idx", "role", "text", maxTokens = 8L))
    assert(countIn(pt, "Exchange hashpartitioning") == 1, pt)
  }

  test("packInterleaved: kind rides the cumsum window — ONE exchange " +
      "total (the chunk aggregate clusters on a stream-prefixed key, " +
      "so it reuses the window's partitioning), ZERO joins") {
    val items = Seq((1L, 0L, "text", 100L), (2L, 0L, "image", 0L))
      .toDF("item_id", "stream", "kind", "n")
    val p = plan(graft.operators.TextAnalysis.packInterleaved(
      items, "item_id", "stream", "kind", col("n"),
      imageTokens = 64, chunkTokens = 128))
    assert(countIn(p, "Exchange hashpartitioning") == 1, p)
    assert(!p.contains("Join"), p)
  }

  test("hardNegatives: the corpus pays ONE broadcast-scored scan — " +
      "queries, exclusions and positive sims all ride broadcasts; " +
      "nothing sort-merges") {
    val corpus = (0L to 30L).map(i => (i, Seq(i.toFloat, 1f)))
      .toDF("vec_id", "embedding")
    val pairs = Seq((0L, 1L)).toDF("query_id", "pos_id")
    val p = plan(graft.operators.Ann.hardNegatives(
      pairs, corpus, "vec_id", "embedding", k = 3))
    // ONE non-equi broadcast scan (queries × corpus) — the q23 shape
    assert(countIn(p, "BroadcastNestedLoopJoin") == 1, p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("Unigram.encodeSampled keeps the encode lock: a zero-shuffle " +
      "per-row projection — the n-best DP + seeded draw never " +
      "exchanges (q253 shape)") {
    val docs = Seq((1L, "ab a b")).toDF("doc_id", "text")
    val vocab = Seq(("a", 2L), ("b", 2L), ("ab", 1L))
      .toDF("piece", "cnt")
    val p = plan(graft.operators.Unigram.encodeSampled(
      docs, "doc_id", "text", vocab, matchHorizon = 6,
      maxInputChars = 9, nBestN = 4, seed = 42L))
    assert(countIn(p, "Exchange") == 0, p)
  }

  test("extendIds: the allocator never shuffles the corpus — one " +
      "vocab-sized anti-join, one vocab-sized ranking window, one " +
      "broadcast 1-row max; nothing sort-merges") {
    import graft.operators.TokenizerArtifact
    val prior = Seq(("a", 0L), ("b", 1L)).toDF("piece", "piece_id")
    val vocab = Seq(("a", 9L), ("c", 3L), ("d", 2L)).toDF("piece", "cnt")
    val p = plan(TokenizerArtifact.extendIds(prior, vocab))
    assert(!p.contains("SortMergeJoin"), p)
    // the only window is the new-piece ranking — vocabulary-sized by
    // construction (the vocabIds shape), never corpus-sized
    assert(countIn(p, "Window") <= 1, p)
  }

  test("epochUpsample: ZERO exchange — the epoch table broadcasts, " +
      "the draw and the copy explode are per-row pure (q266 shape: " +
      "an epoch factor is a per-doc rate, never a corpus window)") {
    val docs = Seq((1L, "en"), (2L, "fr")).toDF("doc_id", "lang")
    val p = plan(graft.operators.TextAnalysis.epochUpsample(
      docs, "doc_id", "lang", Seq("en" -> 14000L, "fr" -> 5000L)))
    assert(countIn(p, "Exchange hashpartitioning") == 0, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("decodeIds + detokenize: the id table attaches as a broadcast " +
      "(zero shuffle for the decode); the word regroup pays exactly " +
      "ONE exchange — the boundary window partitions by doc_id and " +
      "the (doc_id, word_idx) aggregation reuses it (q262 shape)") {
    val shard = Seq((1L, 0L, 0L), (1L, 1L, 1L))
      .toDF("doc_id", "pos", "piece_id")
    val ids = Seq(("ab", 0L), ("##b", 1L)).toDF("piece", "piece_id")
    val pd = plan(graft.operators.WordPiece.decodeIds(shard, ids))
    assert(countIn(pd, "Exchange hashpartitioning") == 0, pd)
    assert(countIn(pd, "BroadcastHashJoin") == 1, pd)
    val pw = plan(graft.operators.WordPiece.detokenize(
      graft.operators.WordPiece.decodeIds(shard, ids)))
    assert(countIn(pw, "Exchange hashpartitioning") == 1, pw)
    assert(!pw.contains("SortMergeJoin"), pw)
  }

  test("epochMixtureReport: ONE exchange (the stratum aggregation, " +
      "partial-agg friendly) — copies aggregate per row, the " +
      "manifest is never exploded (q267 shape)") {
    val docs = Seq((1L, "en", "a b"), (2L, "fr", "c"))
      .toDF("doc_id", "lang", "text")
    val p = plan(graft.operators.TextAnalysis.epochMixtureReport(
      docs, "doc_id", "lang", length(col("text")).cast("long"),
      Seq("en" -> 14000L, "fr" -> 5000L)))
    assert(countIn(p, "Exchange hashpartitioning") == 1, p)
    assert(!p.contains("Generate"), p) // no explode anywhere
  }

  test("resumeBatches adds NOTHING to the manifest plan — the cursor " +
      "is a pure filter, no global-step rank, no extra exchange " +
      "(q268 shape)") {
    val docs = Seq((1L, "a b c"), (2L, "d")).toDF("doc_id", "text")
    import graft.functions.GraftFunctions.tokens
    val m = graft.operators.TextAnalysis.lengthBucketedBatches(
      docs, "doc_id",
      size(filter(tokens(col("text")), t => length(t) > 0)),
      bucketTokens = 2L, batchSize = 4)
    val base = countIn(plan(m), "Exchange hashpartitioning")
    val p = plan(graft.operators.TextAnalysis.resumeBatches(m, 1L, 0L))
    assert(countIn(p, "Exchange hashpartitioning") == base, p)
    assert(!p.contains("Window partitionBy()"), p)
  }

  test("packWholeDocs: ONE exchange — the per-stream sequential fold " +
      "shuffles only the skinny width manifest by stream (q269 shape)") {
    val widths = Seq((0L, 1L, 3L), (0L, 2L, 4L))
      .toDF("stream", "doc_id", "n")
    val p = plan(graft.operators.TextAnalysis.packWholeDocs(
      widths, "doc_id", "stream", col("n"), chunkTokens = 8))
    assert(countIn(p, "Exchange hashpartitioning") == 1, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("fimTransform: ZERO exchange — three per-row hashes, three " +
      "array slices, one projection (q272 shape)") {
    val docs = Seq((1L, "a b c d")).toDF("doc_id", "text")
    val p = plan(graft.operators.TextAnalysis.fimTransform(
      docs, "doc_id", "text", 9000L))
    assert(countIn(p, "Exchange") == 0, p)
  }

  test("annealPhases: the cross-bucket cumulative rides the tiny " +
      "distinct-score table (broadcast back), docs pay only the " +
      "bucket-confined window — no global window over the corpus, " +
      "no sort-merge (q273 shape)") {
    val docs = Seq((1L, 2L, 3L), (2L, 1L, 4L)).toDF("doc_id", "s", "n")
    val p = plan(graft.operators.TextAnalysis.annealPhases(
      docs, "doc_id", col("n"), col("s"), 5L))
    assert(countIn(p, "BroadcastHashJoin") == 1, p)
    assert(!p.contains("SortMergeJoin"), p)
    // the only single-partition window is the distinct-score
    // cumulative; the per-doc window partitions by score
    assert(countIn(p, "Exchange SinglePartition") <= 1, p)
  }

  test("splitLeakageAudit: the split table attaches to the LSH pairs " +
      "as per-row hash derivation + equi-joins — no sort-merge, no " +
      "cartesian; the quadratic stays inside the banded bucket join") {
    val docs = (1L to 40L).map(i => (i, s"w${i}a w${i}b w${i}c"))
      .toDF("doc_id", "text")
    val p = plan(graft.operators.TextAnalysis.splitLeakageAudit(
      docs, "doc_id", "text",
      Seq("train" -> 8000L, "val" -> 1000L, "test" -> 1000L),
      shingleN = 2, numPerm = 64, bands = 32, threshold = 0.5,
      seed = 42L))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("wire family folds hand the kernel a one-node cached relation, " +
      "not the HL7 parse lineage beneath it") {
    import org.apache.spark.sql.catalyst.expressions.{ArrayFilter, ArrayTransform}
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, CollectMetrics, LogicalPlan}
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    import org.apache.spark.sql.util.QueryExecutionListener
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    // the star fold's first action is its touched-bucket probe, metrics
    // (`__late`) observed directly over the batch the kernel folds
    val kernelInputs =
      new java.util.concurrent.ConcurrentLinkedQueue[LogicalPlan]()
    @volatile var flushed = false
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        qe.analyzed match {
          case a: Aggregate if a.aggregateExpressions.exists(_.name == "__flush") =>
            flushed = true
          case w => w.collectFirst {
            case m: CollectMetrics if m.metrics.exists(_.name == "__late") =>
              m.child
          }.foreach(kernelInputs.add)
        }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val pv1 = (Seq("PV1", "1", "I", "W^R^B") ++ Seq.fill(15)("") :+ "V1")
      .mkString("|")
    val batch = Seq(
      "MSH|^~\\&|EPIC|UCLH|||20240101080000||ADT^A01|P1|P|2.4\r" +
        "PID|1||M1^^^MRN^MRN\r" + pv1,
      "MSH|^~\\&|WP|UCLH|||20240101090000||ORU^R01|P2|P|2.4\r" +
        "PID|1||M2^^^MRN^MRN\r" +
        "OBR|1||ORD1^LAB|FBC^FBC^WinPath|||20240101090000\r" +
        "OBX|1|NM|HGB||13.5|g/dL|||||F",
      "MSH|^~\\&|EPIC|Problem List|||20240101100000|X|PPR^PC1|P3|P|2.4\r" +
        "PID|1||M3^^^MRN^MRN\r" + pv1 + "\r" +
        "PRB|AD|20240101100000|C1^Asthma^I10UK|700|||20240101100000")
      .toDF("raw")
    spark.listenerManager.register(listener)
    try {
      for (bt <- Seq(false, true))
        graft.streaming.WirePipeline.foldBatch(batch, 1L, "raw",
          Files.createTempDirectory("plan_kernel_in").toString,
          bitemporal = bt)
      // the listener bus delivers in order: once this marker arrives,
      // every fold action before it has been seen
      spark.range(1).agg(max(col("id")).as("__flush")).collect()
      eventually(timeout(30.seconds))(assert(flushed))
    } finally spark.listenerManager.unregister(listener)

    import scala.jdk.CollectionConverters._
    val inputs = kernelInputs.asScala.toSeq
    // adt, labs, conditions and condition_visits, in both modes
    assert(inputs.size == 8, inputs.map(_.nodeName))
    for (in <- inputs) {
      assert(in.isInstanceOf[InMemoryRelation] && in.collectLeaves() == Seq(in),
        in.treeString)
      assert(!in.exists(_.expressions.exists(_.exists(e =>
        e.isInstanceOf[ArrayFilter] || e.isInstanceOf[ArrayTransform]))),
        in.treeString)
    }
  }

  test("a pinned leaf over an ordered plan still plans when it meets " +
      "itself (the kernel unions a batch with its own empty slice)") {
    import org.apache.spark.sql.graftbridge.CacheBridge
    val ordered = spark.range(0, 100, 1, 2).toDF("id")
      .sortWithinPartitions(col("id"))
    val leaf = CacheBridge.pinned(ordered)
    try assert(leaf.unionByName(leaf.limit(0)).count() == 100)
    finally ordered.unpersist(false)
  }

  test("one bitemporal fold's table writes run ONE kernel exchange " +
      "between them, and no window or join") {
    import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.util.QueryExecutionListener
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    import graft.streaming.StarPipeline
    import scala.jdk.CollectionConverters._

    val executed = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    @volatile var flushed = false
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = {
        executed.add(qe.executedPlan)
        if (qe.analyzed.output.exists(_.name == "__flush")) flushed = true
      }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val cfg = StarPipeline.Config(
      Files.createTempDirectory("plan_bt_fold").toString, Seq("key"),
      "ts_us", "msg_id", Seq("v"), nBuckets = 8, storedFromUsCol = "stored")
    def batch(b: Long) = (1L to 6L)
      .map(k => (k, 1000L * ((b * 3 + k) % 7 + 1), b * 100 + k, s"v$b", b))
      .toDF("key", "ts_us", "msg_id", "v", "stored")
    StarPipeline.foldBatchBitemporal(batch(1), 1L, cfg)
    // the measured fold reads prior messages and records of its buckets
    spark.listenerManager.register(listener)
    try {
      StarPipeline.foldBatchBitemporal(batch(2), 2L, cfg)
      spark.range(1).agg(max(col("id")).as("__flush")).collect()
      eventually(timeout(30.seconds))(assert(flushed))
    } finally spark.listenerManager.unregister(listener)

    // every node a write ran, through adaptive stages and into the
    // cached relations it scanned
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case c: CommandResultExec => nodes(c.commandPhysicalPlan)
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case s: InMemoryTableScanExec => nodes(s.relation.cachedPlan)
      case o => o.children.flatMap(nodes)
    })
    val plans = executed.asScala.toSeq.filter(p => nodes(p).exists {
      case w: DataWritingCommandExec => w.cmd match {
        case i: InsertIntoHadoopFsRelationCommand =>
          i.outputPath.toString.contains("/data/v")
        case _ => false
      }
      case _ => false
    })
    assert(plans.size == 1, plans.map(_.treeString).mkString("\n"))
    val all = plans.flatMap(nodes)
    val exchanges = new java.util.IdentityHashMap[SparkPlan, Unit]()
    all.collect { case e: ShuffleExchangeExec => exchanges.put(e, ()) }
    assert(exchanges.size == 1, plans.map(_.treeString).mkString("\n"))
    // the touched buckets are dealt over min(touched, shuffle partitions)
    val touched = batch(2).select(pmod(xxhash64(col("key")), lit(8)))
      .distinct().count().toInt
    assert(exchanges.keySet.asScala.head.outputPartitioning.numPartitions ==
      touched.min(spark.conf.get("spark.sql.shuffle.partitions").toInt))
    val banned = all.filter(n => n.isInstanceOf[WindowExec] ||
      n.isInstanceOf[SortMergeJoinExec] || n.isInstanceOf[BroadcastHashJoinExec])
    assert(banned.isEmpty, banned.map(_.nodeName))
  }
}
