package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._
import graft.kernel.BitemporalKernel
import graft.operators.{Ann, Conversations, Dedup, EntityUpserts, IdentityMerge, Lexical, LocationMeta, Multimodal, Temporal, TextAnalysis, WordPiece}

/** Driver contract (see SURVEY.md §7 + TESTDATA.md).
  *
  * Each query is a SURVEY.md §2 operator (or a training-data-pipeline
  * operator) exercised on the driver's TPC-H-ish testdata, with a
  * DuckDB-runnable oracle. Determinism rules used throughout so the
  * hash-compare holds bit-for-bit:
  *   - money/double sums go through DECIMAL (order-independent exact
  *     arithmetic), then one final cast to DOUBLE;
  *   - ratios are integer/integer single divisions;
  *   - timestamps are epoch microseconds (BIGINT) — immune to ns/µs
  *     parquet precision differences between engines;
  *   - derived integers are BIGINT on both sides;
  *   - rounded doubles get `+ 0.0` to normalize -0.0;
  *   - every query ends in a deterministic total ORDER BY.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Per-run fixture/index temp dirs, SWEPT AT JVM EXIT: every lane
    * allocates through this, and one shutdown hook deletes the lot —
    * a long-lived bench/verify host no longer accumulates orphan
    * fixture dirs per run (SCALING.md's own known cost, closed r14).
    * Deletion is best-effort by design: the hook runs at exit, after
    * every lane's reads are done.
    */
  private val tmpRoots =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
  Runtime.getRuntime.addShutdownHook(new Thread(() =>
    tmpRoots.forEach { root =>
      try {
        val walk = java.nio.file.Files.walk(root)
        try walk.sorted(
            java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .forEach(p =>
            try java.nio.file.Files.deleteIfExists(p)
            catch { case _: java.io.IOException => })
        finally walk.close()
      } catch { case _: java.io.IOException => }
    }))
  def tmpDir(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    tmpRoots.add(p)
    p.toString
  }

  /** Deterministic multi-line "web page" fixture for the line-level
    * cleaning lanes (q173/q174): the flat documents table carries no
    * newlines, so both engines build the same 6-line page per doc —
    * nav chrome, body, share stub, the body AGAIN (an in-page
    * duplicate), a symbol-heavy separator, footer. Null-safe on purpose (Spark's concat_ws
    * skips nulls, DuckDB's || nulls the whole string — coalesce
    * pins the two to the same page).
    */
  private def linePages(docs: DataFrame): DataFrame =
    docs.withColumn("doc_id", col("doc_id").cast("long"))
      .select(col("doc_id"), concat_ws("\n",
        lit("HOME | LOGIN | SEARCH"),
        coalesce(trim(col("text")), lit("")),
        lit("share"),
        coalesce(trim(col("text")), lit("")),
        lit("= = = = ="),
        lit("COPYRIGHT 2024 ACME")).as("text"))

  /** Deterministic HTML pages over the documents table (q184/q185):
    * the corpus carries no markup, so the lane synthesizes it
    * identically in both engines (the q89/q173 convention). Every
    * extraction hazard has prey: a multi-line comment, a script body
    * with raw `<`/`>` comparisons, a style block, inline `<b>` around
    * a mid-text word (must rejoin seamlessly), block-level nav
    * chrome, entities (incl. double-escaped `&amp;lt;` on every 3rd
    * doc), and an unclosed-attribute-free footer.
    */
  private def htmlPages(docs: DataFrame): DataFrame =
    docs.withColumn("doc_id", col("doc_id").cast("long"))
      .select(col("doc_id"), concat(
        lit("<html><head><title>ignore me</title><style>\n" +
          ".nav { display:none }\n</style><script type=\"text/js\">\n" +
          "if (a<b && c>d) { run(); }\n</script></head>\n"),
        lit("<body><!-- generated\n page -->"),
        lit("<h1>DOC "), col("doc_id").cast("string"), lit("</h1>"),
        lit("<ul><li>Home</li><li>Share &amp; Like</li></ul>"),
        lit("<p>"),
        replace(coalesce(trim(col("text")), lit("")),
          lit("batch"), lit("<b>batch</b>")),
        lit("</p>"),
        when(pmod(col("doc_id"), lit(3)) === 0,
          lit("<div>&quot;q&quot; &lt;tag&gt; &#39;x&#39;&nbsp;end " +
            "&amp;lt;literal</div>")).otherwise(lit("")),
        lit("<footer>COPYRIGHT 2026</footer></body></html>"))
        .as("html"))

  /** Multi-byte text fixture for the byte-level tokenizer lanes
    * (q189–q191): every 4th doc gains Greek, CJK, and an emoji (1-, 2-,
    * 3- and 4-byte UTF-8 sequences all present) — text a char-level
    * vocabulary trained on this corpus would hole out on, and exactly
    * what the byte-level base alphabet exists to absorb.
    */
  private def bytePages(docs: DataFrame): DataFrame =
    docs.withColumn("doc_id", col("doc_id").cast("long"))
      .select(col("doc_id"), col("source"),
        concat(coalesce(col("text"), lit("")),
          when(pmod(col("doc_id"), lit(4)) === 0, lit(" αβ 汉字 🙂"))
            .otherwise(lit(""))).as("text"))

  private val BytePagesSrcSql: String =
    "(SELECT doc_id, source, COALESCE(text, '') || " +
      "CASE WHEN doc_id % 4 = 0 THEN ' αβ 汉字 🙂' ELSE '' END AS text " +
      "FROM documents)"

  /** Shared full-recipe curation fixture (q126/q127/q135/q146/q150):
    * benchmark state (exact shingle index, or two folded bloom layers
    * when `deconBloom`), frozen DSIR model, gate/mixture dirs, and —
    * unless the caller streams the folds itself (q127) — the training
    * half folded in two batches. ONE definition on purpose: every
    * parameter here (shingleN 5, keepFrac 4000, %20 benchmark split,
    * %2 fold split) is replayed by the shared oracle chain, and a
    * per-query copy that drifted would silently test a different
    * chain than its oracle.
    */
  /** `paraphrase = true` (q205) plants PARAPHRASE-GRADE contamination
    * the exact gate structurally cannot catch: each benchmark doc
    * re-enters the pipeline as a training doc (id + 100001 ⇒ ≡ 1 mod
    * 20) with every 5th token dropped — NO intact 5-shingle survives
    * (every 5-token window spans a dropped position), so the exact
    * membership gate sees ~zero overlap, while the 2-shingle MinHash
    * estimate still sits near 0.5 (≈ 3 of every 5 adjacencies
    * survive). Exactly the Llama-audit scenario the fuzzy gate
    * exists for.
    */
  /** `image = true` (q206) threads the multimodal column through the
    * recipe: every doc_id ≡ 0 mod 5 carries a row-pattern PNG whose
    * pattern class is (doc_id div 15) mod 256 — REAL decode + dHash
    * on the codec seam, size/brightness varying per doc (dHash is
    * invariant to both), so the three docs of each div-15 group hash
    * identically and the image gate keeps only the min-id member.
    */
  private def curationFixture(s: SparkSession, dir: String,
                              deconBloom: Boolean = false,
                              fold: Boolean = true,
                              funnel: Boolean = false,
                              fuzzy: Boolean = false,
                              paraphrase: Boolean = false,
                              image: Boolean = false,
                              imageRadius: Boolean = false,
                              audio: Boolean = false,
                              align: Boolean = false)
      : graft.streaming.CurationStream.Config = {
    val d0 = t(s, dir, "documents")
    val d = if (!paraphrase) d0 else {
      val base = d0.select(col("doc_id").cast("long").as("doc_id"),
        col("text"), col("lang"))
      base.unionByName(
        base.filter(pmod(col("doc_id"), lit(20)) === 0)
          .select((col("doc_id") + 100001L).as("doc_id"),
            array_join(filter(tokens(col("text")),
              (_, i) => pmod(i + 1, lit(5)) =!= 0), " ").as("text"),
            col("lang")))
    }
    val mk = () => graft.SparkEntry.tmpDir("curation_fx")
    val benchIdx = mk(); val dsirIdx = mk(); val mixIdx = mk()
    val bench = d.filter(pmod(col("doc_id"), lit(20)) === 0)
    val fuzzyIdx = if (fuzzy) {
      val fz = mk()
      TextAnalysis.buildFuzzyBenchmarkIndex(bench, "doc_id", "text",
        shingleN = 2, numPerm = 64, seed = 42L, indexDir = fz)
      Some(fz)
    } else None
    if (deconBloom) {
      def sh5(b: DataFrame) = b.select(explode(array_distinct(
        shingles(tokens(col("text")), 5))).as("s"))
      graft.operators.Sketches.bloomAppend(
        sh5(bench.filter(pmod(col("doc_id"), lit(40)) === 0)), "s",
        kHashes = 3, mBits = 65536, benchIdx, 1L)
      graft.operators.Sketches.bloomAppend(
        sh5(bench.filter(pmod(col("doc_id"), lit(40)) =!= 0)), "s",
        kHashes = 3, mBits = 65536, benchIdx, 2L)
    } else
      TextAnalysis.buildBenchmarkIndex(bench, "text", shingleN = 5,
        indexDir = benchIdx)
    TextAnalysis.buildDsirIndex(d, d.filter(col("lang") === "en"),
      "doc_id", "text", nBuckets = 65536, scale = 1000000L,
      indexDir = dsirIdx)
    val cfg = graft.streaming.CurationStream.Config(
      benchIdx, dsirIdx, mixIdx, "doc_id", "text", "lang",
      keepFrac10k = 4000L, deconBloom = deconBloom,
      fuzzyIdx = fuzzyIdx, fzBands = 32, fzThreshold = 0.45,
      spanIdx = Some(mk()), nearDupIdx = Some(mk()),
      imageIdx = if (image || imageRadius || audio) Some(mk()) else None,
      imageMaxDist = if (imageRadius) 1 else 0,
      alignIdx = if (align) Some(mk()) else None,
      funnelLangs = if (funnel) Some(Seq("en")) else None)
    if (fold) {
      val train0 = d.filter(pmod(col("doc_id"), lit(20)) =!= 0)
      val trainBase = if (audio) {
        import s.implicits._
        // AUDIO near-dup gate through the SAME hash machinery the
        // image gate uses (Config.imageHashCol is just a 64-bit
        // fingerprint column): doc_id ≡ 0 mod 5 docs carry WAV clips
        // whose energy-envelope class = (doc_id div 15) % 4 — the
        // q209 period-4 amplitude comb, phase-shifted by the class —
        // at per-doc volumes AND sample rates. The envelope
        // fingerprint is volume- and rate-invariant by construction,
        // so clips collapse into exactly the four class groups.
        val media = d.filter(pmod(col("doc_id"), lit(5)) === 0)
          .select(col("doc_id").cast("long").as("media_id"),
            pmod(expr("CAST(doc_id AS BIGINT) div 15"), lit(4L))
              .cast("int").as("cls"),
            (lit(500) + pmod(col("doc_id"), lit(300))).cast("int")
              .as("vol"),
            (lit(8000) + pmod(col("doc_id"), lit(3)) * lit(8000))
              .cast("int").as("rate"))
          .as[(Long, Int, Int, Int)]
          .map { case (id, cls, vol, rate) =>
            val samples = Array.tabulate[Short](640) { k =>
              if ((k / 10 + cls) % 4 == 0) vol.toShort else 0: Short
            }
            Multimodal.MediaRow(id, "audio",
              Multimodal.encodeWav(rate, samples), "audio/wav") }
        val hashes = Multimodal.audioFingerprints(media, Some(8)).toDF()
          .select(col("media_id").as("doc_id"),
            col("dhash").as("img_hash"))
        train0.select(col("doc_id").cast("long").as("doc_id"),
            col("text"), col("lang"))
          .join(hashes, Seq("doc_id"), "left")
      } else if (align && !image) {
        train0.select(col("doc_id").cast("long").as("doc_id"),
            col("text"), col("lang"))
      } else if (!image && !imageRadius) train0 else {
        import s.implicits._
        // exact mode: pattern class = (id div 15) % 256, injective in
        // the dHash. RADIUS mode (q207): class = codeword((id div 15)
        // % 4) for the div-15 group, with the group's THIRD member
        // ((id div 5) % 3 == 2) one bit off — codewords {0x00, 0x07,
        // 0x38, 0x3F} are pairwise ≥ 3 bits apart, so radius-1
        // components are exactly the per-codeword doc sets (dist-0
        // members + the 1-bit-off member), never cross-codeword
        val media = d.filter(pmod(col("doc_id"), lit(5)) === 0)
          .select(col("doc_id").cast("long").as("media_id"),
            (if (imageRadius)
              pmod(expr("CAST(doc_id AS BIGINT) div 15"), lit(4L))
            else
              pmod(expr("CAST(doc_id AS BIGINT) div 15"), lit(256L)))
              .cast("int").as("cls"),
            pmod(expr("CAST(doc_id AS BIGINT) div 5"), lit(3L))
              .cast("int").as("m"),
            (lit(150) + pmod(col("doc_id"), lit(50))).cast("int")
              .as("bright"),
            (lit(40) + pmod(col("doc_id"), lit(40))).cast("int")
              .as("dark"))
          .as[(Long, Int, Int, Int, Int)]
          .map { case (id, cls, m, bright, dark) =>
            val code = if (imageRadius)
              Seq(0x00, 0x07, 0x38, 0x3F)(cls) ^ (if (m == 2) 1 else 0)
            else cls
            Multimodal.MediaRow(id, "image",
              Multimodal.encodeRowPatternPng(
                9 * (1 + (id % 3).toInt), 8 * (1 + (id % 2).toInt),
                bright, dark,
                (0 until 8).map(b => ((code >> b) & 1) == 1)),
              "image/png") }
        val hashes = Multimodal.dhashFeatures(media, Some(8)).toDF()
          .select(col("media_id").as("doc_id"),
            col("dhash").as("img_hash"))
        train0.select(col("doc_id").cast("long").as("doc_id"),
            col("text"), col("lang"))
          .join(hashes, Seq("doc_id"), "left")
      }
      // CROSS-MODAL scores compose onto ANY base (plain or image-
      // hash-carrying — q242 runs both media gates at once): measured
      // split at sf0.01: matched median s4 8353 / mismatched max
      // 3872, so threshold 5000 (Config default) kills every plant
      // and keeps 71/75 matched pairs (q236 sweeps the knob).
      val train = if (!align) trainBase
        else trainBase.join(alignFixtureScores(s, d),
          Seq("doc_id"), "left")
      graft.streaming.CurationStream.foldBatch(
        train.filter(pmod(col("doc_id"), lit(2)) === 1), 1L, cfg)
      graft.streaming.CurationStream.foldBatch(
        train.filter(pmod(col("doc_id"), lit(2)) === 0), 2L, cfg)
    }
    cfg
  }

  /** The q126-family mixture targets — matched by the oracle chain. */
  private val CurationTargets: Map[String, Long] =
    Map("en" -> 8000L, "es" -> 1500L, "de" -> 500L)

  /** events with epoch-µs event time (canonical temporal form). The
    * events parquet carries TIMESTAMP(NANOS), which Spark only reads with
    * spark.sql.legacy.parquet.nanosAsLong=true (set in Verify/Bench) — as
    * epoch-ns longs; floor-divide to µs to agree with the oracle's
    * epoch_us(CAST(ts AS TIMESTAMP)) truncation.
    */
  private[graft] def eventsUs(s: SparkSession, dir: String): DataFrame = {
    val raw = t(s, dir, "events")
    val us = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => expr("ts div 1000")
      case _ => tsUs(col("ts"))
    }
    raw.withColumn("ts_us", us)
  }

  private val EventsUsSql =
    "SELECT user_id, event_id, event_type, value, " +
      "epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us FROM events"

  /** q213/q214 chat-turn fixture: 6-turn conversations from event-id
    * arithmetic — alternating user/assistant roles, texts of 1–3
    * repeated event-type words (variable widths exercise the span
    * cumsum; the repeat keeps every token non-empty).
    */
  private def sftTurns(s: SparkSession, dir: String): DataFrame =
    eventsUs(s, dir).select(
      expr("CAST(event_id AS BIGINT) div 6").as("conv_id"),
      pmod(col("event_id"), lit(6)).cast("long").as("turn_idx"),
      when(pmod(col("event_id"), lit(2)) === 0, "user")
        .otherwise("assistant").as("role"),
      expr("trim(repeat(concat(event_type, ' '), " +
        "CAST(event_id % 3 AS INT) + 1))").as("text"))

  /** The q213/q214 oracle's matching turn CTEs: `t` (the fixture) and
    * `p` (rendered piece + token width).
    */
  private val SftTurnCtesSql: String =
    s"""e AS ($EventsUsSql),
       |t AS (SELECT CAST(event_id // 6 AS BIGINT) AS conv_id,
       |  CAST(event_id % 6 AS BIGINT) AS turn_idx,
       |  CASE WHEN event_id % 2 = 0 THEN 'user' ELSE 'assistant' END
       |    AS role,
       |  trim(repeat(event_type || ' ', CAST(event_id % 3 AS INT) + 1))
       |    AS text
       | FROM e),
       |p AS (SELECT conv_id, turn_idx, role,
       |  '<|' || role || '|> ' || text AS piece,
       |  1 + len(list_filter(string_split_regex(trim(text), '\\s+'),
       |    x -> len(x) > 0)) AS n_tokens
       | FROM t)""".stripMargin

  /** q229/q236 alignment fixture scores: image docs (doc_id ≡ 0
    * mod 5) carry luminance-strip PNGs rendered FROM a caption's
    * hashEmbed — their OWN for matched docs, bin-REVERSED for every
    * 4th image doc ((doc_id div 5) % 4 == 1, the planted mismatch);
    * REAL decode on the ImageIO seam, s4 cosine vs the caption
    * embedding. Returns (doc_id, align_s4).
    */
  /** The q229-family cross-modal fixture's FEATURES: caption hash
    * embeddings (dim 8) for every 5th doc, and the luma histograms of
    * the strip-PNG images planted from them (w = max(emb,0)+1, bins
    * REVERSED for (doc_id div 5) % 4 = 1 — the mismatched plants).
    * Returns (emb: (doc_id, emb), hists: (doc_id, hist)) — the pair
    * the alignment gate scores and the retrieval lanes index.
    */
  private def alignFixtureFeatures(s: SparkSession, d: DataFrame)
      : (DataFrame, DataFrame) = {
    import s.implicits._
    val imgDocs = d.filter(pmod(col("doc_id"), lit(5)) === 0)
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val emb = graft.operators.Embed.hashEmbed(
      imgDocs, "doc_id", "text", dim = 8)
    val media = emb
      .select(col("doc_id"),
        transform(col("emb"),
          x => greatest(x, lit(0.0)) + 1).as("w"),
        pmod(expr("CAST(doc_id AS BIGINT) div 5"), lit(4L))
          .as("m"))
      .select(col("doc_id"),
        when(col("m") === 1, reverse(col("w")))
          .otherwise(col("w")).as("w"))
      .as[(Long, Seq[Double])]
      .map { case (id, w) =>
        Multimodal.MediaRow(id, "image",
          Multimodal.encodeLumaStripPng(w.map(_.toInt).toArray),
          "image/png") }
    val hists = Multimodal.imageLumaHist(media).toDF()
      .select(col("media_id").as("doc_id"), col("hist"))
    (emb, hists)
  }

  private def alignFixtureScores(s: SparkSession,
                                 d: DataFrame): DataFrame = {
    val (emb, hists) = alignFixtureFeatures(s, d)
    emb.join(hists, Seq("doc_id"))
      .select(col("doc_id"),
        Multimodal.alignScore10k(col("emb"), col("hist"))
          .as("align_s4"))
  }

  /** q75/q233 forms-vertical fixture: orders-driven form instances
    * folded in two batches with a NEWER re-file of Q1 for even keys
    * (value k%97 → k%97+1), form metadata for D0–D2, question
    * metadata for Q1 only (Q2 stays a placeholder). Returns the
    * folded state's Config — the answers star is the q75 oracle's
    * subject and q233's conversation source.
    */
  private def formsFixtureState(s: SparkSession, dir: String)
      : graft.streaming.FormsPipeline.Config = {
    import graft.streaming.FormsPipeline
    val root = graft.SparkEntry.tmpDir("q75_state")
    val cfg = FormsPipeline.Config(root, nBuckets = 4)
    val k = col("o_orderkey")
    val ks = k.cast("string")
    def inst(answers: Column) = struct(
      concat(lit("F"), ks).as("formInstanceId"),
      concat(lit("D"), pmod(k, lit(5)).cast("string")).as("formId"),
      concat(lit("M"), col("o_custkey").cast("string")).as("mrn"),
      concat(lit("V"), ks).as("visitNumber"),
      (k * 1000L).as("firstFiledTimeUs"),
      (k * 10L).as("msgId"),
      answers.as("answers"))
    def ans(q: String, filed: Column, msg: Column, sv: Column,
            nv: Column) = struct(
      lit(q).as("questionId"), filed.as("filedTimeUs"),
      msg.as("msgId"), lit(null).cast("string").as("context"),
      sv.as("stringValue"), nv.as("numericValue"),
      lit(null).cast("boolean").as("booleanValue"),
      lit(null).cast("string").as("dateValue"),
      lit(null).cast("long").as("datetimeValueUs"))
    val orders = t(s, dir, "orders")
    val initial = orders.select(inst(array(
      ans("Q1", k * 1000L, k * 10L + 1L,
        lit(null).cast("string"), pmod(k, lit(97)).cast("double")),
      ans("Q2", k * 1000L, k * 10L + 2L,
        concat(lit("S"), pmod(k, lit(3)).cast("string")),
        lit(null).cast("double")))).as("f")).select("f.*")
    // batch 2 re-files Q1 for even instances with a CHANGED value
    val refile = orders.filter(pmod(k, lit(2)) === 0)
      .select(inst(array(
        ans("Q1", k * 1000L + 7L, k * 10L + 3L,
          lit(null).cast("string"),
          (pmod(k, lit(97)) + 1).cast("double")))).as("f"))
      .select("f.*")
    val meta = s.range(3).select(
      concat(lit("D"), col("id").cast("string")).as("formId"),
      lit(1L).as("validFromUs"), col("id").as("msgId"),
      concat(lit("Form D"), col("id").cast("string")).as("name"),
      lit(null).cast("string").as("patientFriendlyName"))
    val qMeta = s.range(1).select(
      lit("Q1").as("questionId"), lit(1L).as("validFromUs"),
      lit(9L).as("msgId"), lit("Numeric score").as("name"),
      lit("score").as("abbrevName"),
      lit(null).cast("string").as("description"))
    FormsPipeline.foldBatch(1L, cfg,
      forms = Some(initial.filter(pmod(col("o_orderkey"), lit(2)) === 1)))
    FormsPipeline.foldBatch(2L, cfg,
      forms = Some(initial.filter(pmod(col("o_orderkey"), lit(2)) === 0)
        .unionByName(refile)),
      formMeta = Some(meta), qMeta = Some(qMeta))
    cfg
  }

  /** q233/q237 bridge turns: the folded forms Q&A star rendered as
    * chat turns — user asks the question (metadata name, or the raw
    * id for placeholders), assistant answers (numeric cast to a
    * BIGINT string, or the string value); turn ids from the form
    * instance / question arithmetic.
    */
  private def formsTurns(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.FormsPipeline
    val a = FormsPipeline.answers(s, formsFixtureState(s, dir)).get
    val base = a.select(
      regexp_replace(col("formInstanceId"), "^F", "")
        .cast("long").as("conv_id"),
      ((regexp_replace(col("questionId"), "^Q", "")
        .cast("long") - 1L) * 2L).as("qbase"),
      coalesce(col("questionName"), col("questionId")).as("qtext"),
      coalesce(col("numericValue").cast("long").cast("string"),
        col("stringValue")).as("atext"))
    base.select(col("conv_id"),
        col("qbase").as("turn_idx"), lit("user").as("role"),
        col("qtext").as("text"))
      .unionByName(base.select(col("conv_id"),
        (col("qbase") + 1L).as("turn_idx"),
        lit("assistant").as("role"), col("atext").as("text")))
  }

  /** q223/q227 planted-contamination fixture: every 50th
    * conversation's last turn carries a benchmark document's text;
    * returns (turns, fuzzy-index dir) — the turn table feeding the
    * batch audit (q223) and the streamed fold (q227) identically.
    */
  private def sftPlantedTurns(s: SparkSession,
                              dir: String): (DataFrame, String) = {
    val d = t(s, dir, "documents")
    val bench = d.filter(pmod(col("doc_id"), lit(20)) === 0)
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val fz = graft.SparkEntry.tmpDir("sft_decon")
    TextAnalysis.buildFuzzyBenchmarkIndex(bench, "doc_id", "text",
      shingleN = 2, numPerm = 64, seed = 42L, indexDir = fz)
    val t0 = sftTurns(s, dir)
    val isPlant = pmod(col("conv_id"), lit(50)) === 0 &&
      col("turn_idx") === 5L
    val planted = t0.filter(isPlant)
      .withColumn("pd",
        pmod(expr("conv_id div 50"), lit(25)) * 20L)
      .drop("text")
      .join(broadcast(bench.select(col("doc_id").as("pd"),
        col("text"))), Seq("pd"))
      .select(col("conv_id"), col("turn_idx"), col("role"),
        col("text"))
    (t0.filter(!isPlant).unionByName(planted), fz)
  }

  /** Drive a turn table through the REAL streaming engine
    * ([[graft.streaming.SftStream]]) with every conversation's turns
    * SPLIT across micro-batches — batch 1 carries the even turn
    * indexes, batch 2 the odd ones PLUS a redelivered slice of batch
    * 1 (every 3rd conversation's even turns again: the upstream
    * at-least-once case the read-side distinct must collapse) — and
    * return the merged turn state the assembly artifacts read.
    * Test-scale collect feeding the MemoryStream, the q165
    * convention.
    */
  private def sftStreamState(s: SparkSession,
                             turns: DataFrame): DataFrame = {
    import s.implicits._
    import graft.streaming.SftStream
    val cfg = SftStream.Config(graft.SparkEntry.tmpDir("sft_stream"))
    val rows = turns
      .select(col("conv_id").cast("long"), col("turn_idx").cast("long"),
        col("role"), col("text"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getString(3)))
    val even = rows.filter(_._2 % 2 == 0)
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, String, String)](s)
    val q = SftStream.start(
      ms.toDF().toDF("conv_id", "turn_idx", "role", "text"), cfg,
      graft.SparkEntry.tmpDir("sft_ck"))
    ms.addData(even.toSeq)
    q.processAllAvailable()
    ms.addData((rows.filter(_._2 % 2 == 1) ++
      even.filter(_._1 % 3 == 0)).toSeq)
    q.processAllAvailable()
    q.stop()
    SftStream.turnsState(s, cfg)
  }

  /** Drive labeled pairs + mined negatives through the REAL streaming
    * engine ([[graft.streaming.PreferenceStream]]): both inputs ride
    * one envelope stream, split across two micro-batches by query
    * parity, batch 2 additionally REDELIVERING a slice of batch 1
    * (every 3rd query's rows — the upstream at-least-once case the
    * read-side distinct must collapse). Returns the merged
    * (pairsState, negativesState) the assembly reads. Test-scale
    * collect feeding the MemoryStream, the q165/q226 convention.
    */
  private def prefStreamState(s: SparkSession, pairs: DataFrame,
      negs: DataFrame, compact: Boolean = false): (DataFrame, DataFrame) = {
    import s.implicits._
    import graft.streaming.PreferenceStream
    val cfg = PreferenceStream.Config(
      graft.SparkEntry.tmpDir("pref_stream"))
    val pRows = pairs.select(col("query_id").cast("long"),
        col("pos_id").cast("long")).collect()
      .map(r => ("pair", r.getLong(0), r.getLong(1), 0L, 0L, 0L))
    val nRows = negs.select(col("query_id").cast("long"),
        col("neighbor_id").cast("long"), col("rank").cast("long"),
        round(col("sim") * 10000, 0).cast("long"),
        round(col("pos_sim") * 10000, 0).cast("long")).collect()
      .map(r => ("neg", r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    val rows = pRows ++ nRows
    val b1 = rows.filter(_._2 % 2 == 0)
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, Long, Long, Long, Long, Long)](s)
    val q = PreferenceStream.start(
      ms.toDF().toDF("kind", "query_id", "other_id", "rank",
        "sim10k", "pos_sim10k"), cfg,
      graft.SparkEntry.tmpDir("pref_ck"))
    ms.addData(b1.toSeq)
    q.processAllAvailable()
    ms.addData((rows.filter(_._2 % 2 == 1) ++
      b1.filter(_._2 % 3 == 0)).toSeq)
    q.processAllAvailable()
    q.stop()
    // q263: COMPACT both layer families after the folds — the merged
    // state (and therefore the assembled pairs) must be identical
    if (compact) PreferenceStream.compact(s, cfg)
    (PreferenceStream.pairsState(s, cfg),
      PreferenceStream.negativesState(s, cfg))
  }

  /** q217/q220/q221 encode corpus: every 25th doc carries an appended
    * 20-char word that trips BERT's max_input_chars_per_word=16 guard
    * (→ whole-word [UNK]); the vocab is always mined from the RAW
    * documents, so the long word exercises the guard, not the mining.
    */
  private def wpAugDocs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id").cast("long").as("doc_id"),
        when(pmod(col("doc_id"), lit(25)) === 0,
          concat(col("text"), lit(" " + "x" * 20)))
          .otherwise(col("text")).as("text"))

  /** The q195 wire→RAG chain over an arbitrary (doc_id, text) frame —
    * shared by the lane and [[graft.Bench]]'s untimed JIT pre-warm
    * (SCALING.md round-15 codegen adjudication: a cold run pays ~20 s
    * over warm, ~3 s of it Janino compilation of ~80 generated classes
    * and the rest HotSpot JIT warm-up of the shared interpreted-HOF
    * parse machinery — per-JVM, and fully transferable: q204 right after
    * q195 runs warm. Pre-warming this chain on a 64-row slice
    * absorbs the whole tax in an untimed prefix).
    */
  private[graft] def wireRagChain(s: SparkSession, docs0: DataFrame,
                                  tmpPrefix: String): DataFrame = {
    import graft.sources.LabFunnel
    import graft.streaming.RagStream
    val id = col("doc_id").cast("string")
    val report = regexp_replace(coalesce(col("text"), lit("")),
      "[^A-Za-z0-9 ]", "")
    val raw = concat_ws("\r",
      concat(lit("MSH|^~\\&|Bridges|UCLH|||20240501120000||ORU^R01|CP"),
        id, lit("|P|2.4")),
      concat(lit("ORC|RE|UH"), id, lit("|UH"), id, lit("||CM")),
      concat(lit("OBR|1|UH"), id, lit("|UH"), id,
        lit("|H^Histology^CPEAP|||20240501100000"), lit("|" * 15),
        lit("20240501113000||CP|F")),
      concat(lit("OBX|1|TX|UH"), id, lit("^^CPEAP||"), report,
        lit("||||||F")))
    // spread BEFORE the parse: documents.parquet is one file → one
    // scan partition at test scale, and everything downstream (the
    // wire parse, the funnel, chunk+embed) would run single-core
    // (measured 5× the lane at sf0.1). At 100 TB the scan splits by
    // row group and this repartition is a no-op cost-wise; here it
    // is the difference between 1 and |cores| executors.
    val nPart = s.conf.get("spark.sql.shuffle.partitions").toInt
    val parsed = LabFunnel.parseCoPath(
      docs0.repartition(nPart).withColumn("raw", raw), "raw")
    val tx = get(filter(col("coPathResults"),
      r => r.getField("valueType") === "TX"), lit(0))
    // checkpoint the parsed (id, text) sliver: THREE consumers (two
    // index folds + the query encode) would otherwise each re-parse
    // every wire message — measured 3× the lane's cost at sf0.1
    val labDocs = parsed.select(
      regexp_extract(col("sourceMessageId"), "^CP(\\d+)_01$", 1)
        .cast("long").as("doc_id"),
      coalesce(tx.getField("stringValue"), lit("")).as("text"))
      .localCheckpoint(false)
    val cfg = RagStream.Config(
      graft.SparkEntry.tmpDir(tmpPrefix), "doc_id", "text",
      funnel = Some(RagStream.Funnel(langs = Seq("en"),
        minTokens = 20L, maxStop10k = 1500L, minAvgLen10 = 39L)))
    RagStream.foldBatch(
      labDocs.filter(pmod(col("doc_id"), lit(2)) === 0), 1L, cfg)
    RagStream.foldBatch(
      labDocs.filter(pmod(col("doc_id"), lit(2)) === 1), 2L, cfg)
    // The %2000 filter is on CHUNK ids (encodeBatch's output id =
    // doc_id·100 + chunk_idx, chunk_idx < 100) — but it IS
    // doc-derivable: 100·d + i ≡ 0 (mod 2000) with 0 ≤ i < 100
    // forces i = 0 (the residue is a multiple of 100) and then
    // d ≡ 0 (mod 20). Prefiltering docs 20× shrinks the query-side
    // encode (a corpus-wide funnel+chunk+embed pass — measured the
    // lane's dominant stage, SCALING.md "Wire→RAG (q195)") to 5%; the
    // chunk-level filter stays as the exactness guard.
    val qs = RagStream.encodeBatch(
        labDocs.filter(pmod(col("doc_id"), lit(20L)) === 0), cfg)
      .filter(pmod(col("doc_id"), lit(2000L)) === 0)
      .withColumn("probes", array(pmod(col("doc_id"), lit(4L)),
        pmod(col("doc_id") + 1L, lit(4L))))
    Ann.sq8IndexQuery(s, cfg.indexDir, qs, "doc_id", "emb", "probes",
        k = 3)
      .orderBy(col("query_id"), col("rank"))
  }

  /** One hard-negative chain over the shared q218 quantization CTEs
    * (`n`, `pp`, `ps`): candidates from `${sfx}p`'s probe set,
    * over-fetch cut (rank ≤ `overfetch`) BEFORE exclusions, margin
    * in BIGINT s4 math, dense re-rank — ends at `r$sfx` (query_id,
    * neighbor_id, rank).
    */
  private def hnChainSql(sfx: String, overfetch: Int,
                         margin10k: Long): String =
    s"""sx$sfx AS (SELECT query_id, c.vec_id AS neighbor_id,
       |  round(list_dot_product(qq, c.q) / (qn * c.nrm), 4) + 0.0
       |    AS sim
       | FROM p$sfx JOIN n c ON probe = c.label
       |  AND query_id <> c.vec_id),
       |ofc$sfx AS (SELECT query_id, neighbor_id,
       |  CAST(round(sim * 10000, 0) AS BIGINT) AS s4
       | FROM (SELECT query_id, neighbor_id, sim, row_number() OVER
       |   (PARTITION BY query_id ORDER BY sim DESC, neighbor_id)
       |     AS rk FROM sx$sfx)
       | WHERE rk <= $overfetch),
       |neg$sfx AS (SELECT o.query_id, o.neighbor_id, o.s4
       | FROM ofc$sfx o JOIN ps USING (query_id)
       | WHERE o.s4 * 10000 <= ps.pos_s4 * $margin10k
       |  AND NOT EXISTS (SELECT 1 FROM pp
       |   WHERE pp.query_id = o.query_id
       |    AND pp.pos_id = o.neighbor_id)),
       |r$sfx AS (SELECT query_id, neighbor_id,
       |  row_number() OVER (PARTITION BY query_id
       |   ORDER BY s4 DESC, neighbor_id) AS rank FROM neg$sfx)"""
      .stripMargin

  /** q224: the probed chain vs the all-clusters chain, same k /
    * over-fetch / margin — recall isolates the probe-pruning cost.
    */
  private lazy val HnPruningRecallOracleSql: String = materializeCtes(
    s"""WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |  CAST(label AS BIGINT) AS label FROM embeddings),
       |qv AS (SELECT vec_id, label,
       |  list_transform(v, x -> floor((x * 127) /
       |    list_max(list_transform(v, y -> abs(y))))) AS q
       | FROM base
       | WHERE list_max(list_transform(v, y -> abs(y))) > 0),
       |n AS (SELECT vec_id, label, q,
       |  sqrt(list_dot_product(q, q)) AS nrm FROM qv),
       |pp AS (SELECT vec_id AS query_id, vec_id + 50 AS pos_id
       |  FROM embeddings WHERE vec_id < 8
       | UNION ALL
       | SELECT vec_id, vec_id * 3 + 100
       |  FROM embeddings WHERE vec_id < 8),
       |ps AS (SELECT pp.query_id, MAX(CAST(round(
       |   list_dot_product(a.q, c.q) / (a.nrm * c.nrm) * 10000, 0)
       |    AS BIGINT)) AS pos_s4
       | FROM pp JOIN n a ON a.vec_id = pp.query_id
       |  JOIN n c ON c.vec_id = pp.pos_id
       | GROUP BY pp.query_id),
       |pA AS (SELECT vec_id AS query_id, q AS qq, nrm AS qn,
       |  unnest(list_distinct([label, (label + 1) %
       |    (SELECT MAX(label) + 1 FROM embeddings)])) AS probe
       | FROM n WHERE vec_id < 8),
       |pT AS (SELECT vec_id AS query_id, q AS qq, nrm AS qn,
       |  unnest(range((SELECT MAX(label) + 1 FROM embeddings)))
       |    AS probe
       | FROM n WHERE vec_id < 8),
       |${hnChainSql("A", 100, 30000L)},
       |${hnChainSql("T", 500, 30000L)},
       |ak AS (SELECT query_id, neighbor_id FROM rA WHERE rank <= 3),
       |tk AS (SELECT query_id, neighbor_id FROM rT WHERE rank <= 3),
       |h AS (SELECT a.query_id, COUNT(*) AS n_hit
       | FROM ak a JOIN tk t ON a.query_id = t.query_id
       |  AND a.neighbor_id = t.neighbor_id
       | GROUP BY a.query_id)
       |SELECT q.query_id, CAST(3 AS BIGINT) AS k,
       | CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
       | CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / 3 AS recall
       |FROM (SELECT DISTINCT query_id FROM tk) q
       |LEFT JOIN h USING (query_id) ORDER BY query_id""".stripMargin)

  /** q225: the probe-sweep replay — three chains over the shared
    * quantization CTEs (probes 2/5/all, horizon corpus-wide so ONLY
    * probes vary), aggregated recall vs the all-probes chain.
    */
  private lazy val HnProbeSweepOracleSql: String = {
    def probeCte(sfx: String, p: String): String =
      s"""p$sfx AS (SELECT vec_id AS query_id, q AS qq, nrm AS qn,
         |  unnest(list_distinct(list_transform(range($p),
         |    i -> (label + i) % x.nl))) AS probe
         | FROM n, (SELECT MAX(label) + 1 AS nl FROM embeddings) x
         | WHERE vec_id < 8)""".stripMargin
    // n_probes is a SQL expression: the all-probes row derives it
    // from the data (MAX(label)+1) exactly like the engine's nLabels
    // — a literal would break the key column, not measure recall, if
    // the fixture's label count ever changed
    def hitRow(p: String, sfx: String): String =
      s"""SELECT CAST($p AS BIGINT) AS n_probes,
         | CAST(qn2.nq AS BIGINT) AS n_queries,
         | CAST(h$sfx.sum_hit AS BIGINT) AS sum_hit,
         | CAST(h$sfx.sum_hit * 10000 // (3 * qn2.nq) AS BIGINT)
         |   AS recall_10k
         |FROM h$sfx, qn2""".stripMargin
    materializeCtes(
      s"""WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         |  CAST(label AS BIGINT) AS label FROM embeddings),
         |qv AS (SELECT vec_id, label,
         |  list_transform(v, x -> floor((x * 127) /
         |    list_max(list_transform(v, y -> abs(y))))) AS q
         | FROM base
         | WHERE list_max(list_transform(v, y -> abs(y))) > 0),
         |n AS (SELECT vec_id, label, q,
         |  sqrt(list_dot_product(q, q)) AS nrm FROM qv),
         |pp AS (SELECT vec_id AS query_id, vec_id + 50 AS pos_id
         |  FROM embeddings WHERE vec_id < 8
         | UNION ALL
         | SELECT vec_id, vec_id * 3 + 100
         |  FROM embeddings WHERE vec_id < 8),
         |ps AS (SELECT pp.query_id, MAX(CAST(round(
         |   list_dot_product(a.q, c.q) / (a.nrm * c.nrm) * 10000, 0)
         |    AS BIGINT)) AS pos_s4
         | FROM pp JOIN n a ON a.vec_id = pp.query_id
         |  JOIN n c ON c.vec_id = pp.pos_id
         | GROUP BY pp.query_id),
         |${probeCte("S2", "2")},
         |${probeCte("S5", "5")},
         |${probeCte("ST", "(SELECT MAX(label) + 1 FROM embeddings)")},
         |${hnChainSql("S2", 500, 30000L)},
         |${hnChainSql("S5", 500, 30000L)},
         |${hnChainSql("ST", 500, 30000L)},
         |ak2 AS (SELECT query_id, neighbor_id FROM rS2 WHERE rank <= 3),
         |ak5 AS (SELECT query_id, neighbor_id FROM rS5 WHERE rank <= 3),
         |tkT AS (SELECT query_id, neighbor_id FROM rST WHERE rank <= 3),
         |h2 AS (SELECT COUNT(*) AS sum_hit FROM ak2 a JOIN tkT t
         | ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id),
         |h5 AS (SELECT COUNT(*) AS sum_hit FROM ak5 a JOIN tkT t
         | ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id),
         |hT AS (SELECT COUNT(*) AS sum_hit FROM tkT),
         |qn2 AS (SELECT COUNT(DISTINCT query_id) AS nq FROM tkT)
         |SELECT * FROM (
         | ${hitRow("2", "2")}
         | UNION ALL
         | ${hitRow("5", "5")}
         | UNION ALL
         | ${hitRow("(SELECT MAX(label) + 1 FROM embeddings)", "T")})
         |ORDER BY n_probes""".stripMargin)
  }

  /** q235: indexed-DPO replay — q218's quantized mining chain
    * verbatim (int8 codes, probed partitions, over-fetch 10, margin
    * 30000, k=3) for the rejected side; the CHOSEN side re-scored on
    * the DENSE vectors (the production exact-re-rank of the tiny
    * labeled set); gap ≥ 0, top-2 hardest per prompt.
    */
  private lazy val DpoIndexedOracleSql: String = materializeCtes(
    s"""WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |  CAST(label AS BIGINT) AS label FROM embeddings),
       |qv AS (SELECT vec_id, label,
       |  list_transform(v, x -> floor((x * 127) /
       |    list_max(list_transform(v, y -> abs(y))))) AS q
       | FROM base
       | WHERE list_max(list_transform(v, y -> abs(y))) > 0),
       |n AS (SELECT vec_id, label, q,
       |  sqrt(list_dot_product(q, q)) AS nrm FROM qv),
       |p AS (SELECT vec_id AS query_id, q AS qq, nrm AS qn,
       |  unnest(list_distinct([label, (label + 1) %
       |    (SELECT MAX(label) + 1 FROM embeddings)])) AS probe
       | FROM n WHERE vec_id < 8),
       |pp AS (SELECT vec_id AS query_id, vec_id + 50 AS pos_id
       |  FROM embeddings WHERE vec_id < 8
       | UNION ALL
       | SELECT vec_id, vec_id * 3 + 100
       |  FROM embeddings WHERE vec_id < 8),
       |sx AS (SELECT query_id, c.vec_id AS neighbor_id,
       |  round(list_dot_product(qq, c.q) / (qn * c.nrm), 4) + 0.0
       |    AS sim
       | FROM p JOIN n c ON probe = c.label AND query_id <> c.vec_id),
       |ofc AS (SELECT query_id, neighbor_id,
       |  CAST(round(sim * 10000, 0) AS BIGINT) AS s4
       | FROM (SELECT query_id, neighbor_id, sim, row_number() OVER
       |   (PARTITION BY query_id ORDER BY sim DESC, neighbor_id)
       |     AS rk FROM sx)
       | WHERE rk <= 10),
       |ps AS (SELECT pp.query_id, MAX(CAST(round(
       |   list_dot_product(a.q, c.q) / (a.nrm * c.nrm) * 10000, 0)
       |    AS BIGINT)) AS pos_s4
       | FROM pp JOIN n a ON a.vec_id = pp.query_id
       |  JOIN n c ON c.vec_id = pp.pos_id
       | GROUP BY pp.query_id),
       |neg AS (SELECT o.query_id, o.neighbor_id, o.s4
       | FROM ofc o JOIN ps USING (query_id)
       | WHERE o.s4 * 10000 <= ps.pos_s4 * 30000
       |  AND NOT EXISTS (SELECT 1 FROM pp
       |   WHERE pp.query_id = o.query_id
       |    AND pp.pos_id = o.neighbor_id)),
       |rr AS (SELECT query_id, neighbor_id, s4,
       |  row_number() OVER (PARTITION BY query_id
       |   ORDER BY s4 DESC, neighbor_id) AS rank FROM neg),
       |chs AS (SELECT query_id, pos_id AS chosen_id,
       |  s4c AS chosen_s4 FROM (
       |  SELECT pp.query_id, pp.pos_id,
       |   CAST(round(list_cosine_similarity(a.v, c.v) * 10000, 0)
       |     AS BIGINT) AS s4c,
       |   row_number() OVER (PARTITION BY pp.query_id
       |    ORDER BY CAST(round(list_cosine_similarity(a.v, c.v)
       |      * 10000, 0) AS BIGINT) DESC, pp.pos_id) AS rn
       |  FROM pp JOIN base a ON a.vec_id = pp.query_id
       |   JOIN base c ON c.vec_id = pp.pos_id)
       | WHERE rn = 1),
       |asm AS (SELECT ch.query_id AS prompt_id, ch.chosen_id,
       |  rk.neighbor_id AS rejected_id,
       |  row_number() OVER (PARTITION BY ch.query_id
       |   ORDER BY rk.s4 DESC, rk.neighbor_id) AS pair_rank,
       |  ch.chosen_s4, rk.s4 AS rejected_s4
       | FROM chs ch JOIN rr rk ON rk.query_id = ch.query_id
       | WHERE rk.rank <= 3
       |  AND ch.chosen_s4 - rk.s4 >= -20000)
       |SELECT a.prompt_id, a.chosen_id, a.rejected_id,
       | CAST(a.pair_rank AS BIGINT) AS pair_rank,
       | a.chosen_s4 / 10000.0 AS chosen_sim,
       | a.rejected_s4 / 10000.0 AS rejected_sim
       |FROM asm a WHERE a.pair_rank <= 2
       |ORDER BY a.prompt_id, a.pair_rank""".stripMargin)

  /** q242: EVERY gate — the q208 all-gates oracle with the align
    * drop set threaded into kept2 alongside the image drop set (the
    * two media gates compose on the same clause).
    */
  private lazy val CurationEveryGateOracleSql: String = {
    val imgClause = "AND doc_id NOT IN (SELECT doc_id FROM nddrop)\n" +
      "   AND doc_id NOT IN (SELECT doc_id FROM imgd)),"
    val withImg = imageGateSplicedTail("(doc_id // 15) % 256")
    require(withImg.contains(imgClause),
      "image-gate splice drifted — fix the every-gate composition")
    val bothGates = AlignScoreCtesSql + ",\n" +
      "algd AS (SELECT doc_id FROM ascr WHERE s4 < 5000),\n" +
      withImg.replace(imgClause,
        "AND doc_id NOT IN (SELECT doc_id FROM nddrop)\n" +
          "   AND doc_id NOT IN (SELECT doc_id FROM imgd)\n" +
          "   AND doc_id NOT IN (SELECT doc_id FROM algd)),")
    materializeCtes(
      CurationChainHeadSql + ",\n" + minhashSigCtesSql(2) + ",\n" +
        fuzzyDeconPairCtesSql(0.45) + ",\n" +
        "fzdrop AS (SELECT DISTINCT doc_id FROM fzsc),\n" +
        CurationFunnelSql + ",\n" +
        curationExactDeconSql(
          "AND d.doc_id IN (SELECT doc_id FROM fkeep) " +
            "AND d.doc_id NOT IN (SELECT doc_id FROM fzdrop)") + ",\n" +
        bothGates + "\n" +
        """SELECT stage, n FROM (
          | SELECT 'a_indexed' AS stage,
          |   CAST((SELECT COUNT(*) FROM kept1) AS BIGINT) AS n
          | UNION ALL SELECT 'b_span_drop',
          |   CAST((SELECT COUNT(*) FROM spandrop) AS BIGINT)
          | UNION ALL SELECT 'c_neardup_drop',
          |   CAST((SELECT COUNT(*) FROM nddrop) AS BIGINT)
          | UNION ALL SELECT 'c2_image_drop',
          |   CAST((SELECT COUNT(*) FROM imgd) AS BIGINT)
          | UNION ALL SELECT 'c3_align_drop',
          |   CAST((SELECT COUNT(*) FROM algd
          |     WHERE doc_id IN (SELECT doc_id FROM kept1)) AS BIGINT)
          | UNION ALL SELECT 'd_gated',
          |   CAST((SELECT COUNT(*) FROM kept2) AS BIGINT)
          | UNION ALL SELECT 'e_dsir_kept',
          |   CAST((SELECT (COUNT(*) * 4000) // 10000 FROM kept2)
          |     AS BIGINT)
          | UNION ALL SELECT 'f_selected',
          |   CAST((SELECT COUNT(*) FROM r JOIN caps USING (lang)
          |     WHERE mix_rank <= k) AS BIGINT))
          |ORDER BY stage""".stripMargin)
  }

  /** q240: the token-budget release replay — the q126 chain's final
    * selection as a CTE, token counts re-derived from the text, the
    * q239 cumsum + starts-within-budget cut.
    */
  private lazy val CurationTokenReleaseOracleSql: String =
    materializeCtes(
      CurationFullChainSql + ",\n" +
        s"""fsel AS (SELECT r.doc_id, r.lang FROM r
           | JOIN caps USING (lang) WHERE mix_rank <= k),
           |ftk AS (SELECT f.doc_id, f.lang,
           |  CAST(len(list_filter(string_split_regex(trim(d.text),
           |    '\\s+'), x -> len(x) > 0)) AS BIGINT) AS n,
           |  ${polyHashSql("CAST(f.doc_id AS VARCHAR) || '|' || f.lang")}
           |    AS hh
           | FROM fsel f JOIN documents d ON d.doc_id = f.doc_id),
           |fc AS (SELECT doc_id, lang, n,
           |  row_number() OVER (PARTITION BY lang ORDER BY hh, doc_id)
           |    AS tok_rank,
           |  CAST(SUM(n) OVER (PARTITION BY lang ORDER BY hh, doc_id
           |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
           | FROM ftk),
           |fb AS (SELECT 'en' AS lang, 20000 AS budget
           | UNION ALL SELECT 'es', 3000)
           |SELECT doc_id, lang, CAST(tok_rank AS BIGINT) AS tok_rank,
           | cum_tokens
           |FROM fc JOIN fb USING (lang)
           |WHERE cum_tokens - n < budget
           |ORDER BY lang, tok_rank""".stripMargin)

  /** q236: the align-threshold sweep replay. */
  private lazy val AlignSweepOracleSql: String = materializeCtes(
    s"""WITH $AlignScoreCtesSql,
       |apl AS (SELECT doc_id, s4,
       |  (doc_id // 5) % 4 = 1 AS planted FROM ascr)
       |SELECT CAST(t AS BIGINT) AS threshold,
       | CAST(SUM(CASE WHEN NOT planted AND s4 >= t
       |   THEN 1 ELSE 0 END) AS BIGINT) AS matched_kept,
       | CAST(SUM(CASE WHEN NOT planted AND s4 < t
       |   THEN 1 ELSE 0 END) AS BIGINT) AS matched_dropped,
       | CAST(SUM(CASE WHEN planted AND s4 < t
       |   THEN 1 ELSE 0 END) AS BIGINT) AS planted_dropped,
       | CAST(SUM(CASE WHEN planted AND s4 >= t
       |   THEN 1 ELSE 0 END) AS BIGINT) AS planted_kept
       |FROM apl, (SELECT unnest([2000, 5000, 8000]) AS t)
       |GROUP BY t ORDER BY threshold""".stripMargin)

  /** q230/q231/q232 Unigram piece-table CTEs: word frequencies →
    * UNMARKED substring candidates (length ≤ `maxPieceLen` — unigram
    * pieces are position-free) → all singles ∪ top-`topPieces`
    * multi-char by (cnt DESC, piece ASC) with the reserved '[UNK]'
    * filtered → s10k = cnt·10⁴ // total + 1 over the SELECTED
    * table's count mass. Ends at `uvocab` (piece, cnt, s10k).
    */
  private def unigramVocabCtesSql(maxPieceLen: Int, topPieces: Int,
                                  p: String = "u",
                                  src: String = "documents"): String =
    s"""${p}tk AS (SELECT unnest(list_filter(
       |    string_split_regex(trim(text), '\\s+'), x -> len(x) > 0))
       |  AS tok FROM $src),
       |${p}fr AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS wc
       | FROM ${p}tk GROUP BY tok),
       |${p}cp AS (SELECT tok, wc, unnest(range(len(tok))) AS p
       | FROM ${p}fr),
       |${p}cl AS (SELECT tok, wc, p,
       |  unnest(range(1, least($maxPieceLen, len(tok) - p) + 1)) AS l
       | FROM ${p}cp),
       |${p}pc AS (SELECT substr(tok, CAST(p + 1 AS INT),
       |  CAST(l AS INT)) AS piece, wc FROM ${p}cl),
       |${p}ag AS (SELECT piece, CAST(SUM(wc) AS BIGINT) AS cnt
       | FROM ${p}pc GROUP BY piece),
       |${p}mu AS (SELECT piece, cnt FROM ${p}ag
       | WHERE len(piece) > 1 AND piece <> '[UNK]'
       | ORDER BY cnt DESC, piece LIMIT $topPieces),
       |${p}v0 AS (SELECT piece, cnt FROM ${p}ag WHERE len(piece) = 1
       | UNION ALL SELECT piece, cnt FROM ${p}mu),
       |${p}tot AS (SELECT SUM(cnt) AS t FROM ${p}v0),
       |${p}vocab AS (SELECT piece, cnt,
       |  CAST(cnt * 10000 // x.t + 1 AS BIGINT) AS s10k
       | FROM ${p}v0, ${p}tot x)""".stripMargin

  /** q231/q232: the max-product Viterbi replay by FULL ENUMERATION —
    * `stages` = maxInputChars unrolled rounds keep EVERY partial
    * segmentation (a path consumes ≥ 1 char per round, ≤ 2^(n-1)
    * compositions per word), products in HUGEINT (10001^maxInputChars
    * must fit — the maxInputChars ≤ 9 guard), then the per-word
    * argmax by (prod DESC, n_pieces ASC, rendered seq ASC) — the
    * native expression's exact tie-break. The engine runs the same
    * argmax as a per-word DP; enumeration here is the independent
    * check that the DP's per-position commits are globally optimal.
    * Per stage the candidate lengths explode FIRST (≤ maxPieceLen
    * rows per path) so the vocab join is a hashable string equality.
    */
  /** The shared Unigram-enumeration SQL parts (aug corpus, unrolled
    * stages, the exact-total-order ranking window) — used by the
    * encode/ids/nbest/sample oracles AND the q256 sweep.
    */
  private def unigramEnumParts(maxPieceLen: Int, maxInputChars: Int)
      : (String, String, String) = {
    val aug =
      s"""adocs AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
         |  CASE WHEN doc_id % 25 = 0
         |   THEN text || ' ${"x" * 20}' ELSE text END AS text
         | FROM documents),
         |adt AS (SELECT doc_id, widx, ws[CAST(widx + 1 AS INT)] AS tok
         | FROM (SELECT doc_id, ws, unnest(range(len(ws))) AS widx
         |  FROM (SELECT doc_id, list_filter(string_split_regex(
         |    trim(text), '\\s+'), x -> len(x) > 0) AS ws
         |   FROM adocs))),
         |ug0 AS (SELECT tok, len(tok) AS n, 0 AS pos, 0 AS np,
         |  CAST(1 AS HUGEINT) AS prod, '' AS seq
         | FROM (SELECT DISTINCT tok FROM adt
         |  WHERE len(tok) <= $maxInputChars))""".stripMargin
    val stages = (1 to maxInputChars).map { st =>
      val prev = s"ug${st - 1}"
      s"""ux$st AS (SELECT tok, n, pos, np, prod, seq,
         |  unnest(range(1, least($maxPieceLen, n - pos) + 1)) AS l
         | FROM $prev WHERE pos < n),
         |ug$st AS (SELECT x.tok, x.n, x.pos + x.l AS pos,
         |  x.np + 1 AS np, x.prod * CAST(v.s10k AS HUGEINT) AS prod,
         |  CASE WHEN x.seq = '' THEN v.piece
         |   ELSE x.seq || ' ' || v.piece END AS seq
         | FROM ux$st x JOIN uvocab v
         |  ON v.piece = substr(x.tok, CAST(x.pos + 1 AS INT),
         |    CAST(x.l AS INT))
         | UNION ALL
         | SELECT tok, n, pos, np, prod, seq FROM $prev
         | WHERE pos >= n)""".stripMargin
    }.mkString(",\n")
    // normalized comparison: raw products GROW with piece count
    // (scores exceed 1), so the argmax compares the true probability
    // product via key = prod · 10⁴^(maxInputChars − np) — HUGEINT-
    // bounded by 10001^maxInputChars (each s10k ≤ 10001, 10⁴ < 10001)
    val normCase = (0 to maxInputChars).map(np =>
      s"WHEN $np THEN CAST('1${"0" * (4 * (maxInputChars - np))}' " +
        "AS HUGEINT)").mkString(" ")
    // the shared per-word ranking under the exact total order; the
    // argmax (rn = 1), the n-best listing (rn ≤ nBest) and the
    // seeded sampled pick (rn = polyHash(tok∥'|ugs'∥seed) mod
    // |available| + 1) are all reads of this one window
    val rankCte =
      s"""urk AS (SELECT tok, seq, row_number() OVER (PARTITION BY tok
         |   ORDER BY prod * (CASE np $normCase END) DESC,
         |    np ASC, seq ASC) AS rn
         | FROM ug$maxInputChars WHERE pos >= n)""".stripMargin
    (aug, stages, rankCte)
  }

  private def unigramEncodeOracleSql(maxPieceLen: Int, topPieces: Int,
                                     maxInputChars: Int,
                                     ids: Boolean = false,
                                     extendIds: Boolean = false,
                                     nBest: Int = 0,
                                     nBestList: Boolean = false,
                                     sampleSeed: Long = 42L): String = {
    val (aug, stages, rankCte) =
      unigramEnumParts(maxPieceLen, maxInputChars)
    if (nBestList) {
      require(nBest >= 1, "nBestList requires nBest >= 1")
      return materializeCtes(
        s"""WITH ${unigramVocabCtesSql(maxPieceLen, topPieces)},
           |$aug,
           |$stages,
           |$rankCte
           |SELECT tok, CAST(rn AS BIGINT) AS nbest_rank, seq
           |FROM urk WHERE rn <= $nBest
           |UNION ALL
           |SELECT DISTINCT tok, CAST(1 AS BIGINT), '[UNK]'
           |FROM adt WHERE len(tok) > $maxInputChars
           |ORDER BY tok, nbest_rank""".stripMargin)
    }
    val pick = if (nBest <= 0)
      s"""$rankCte,
         |ubst AS (SELECT tok, seq FROM urk WHERE rn = 1)""".stripMargin
    else
      s"""$rankCte,
         |unb AS (SELECT tok, seq, rn FROM urk WHERE rn <= $nBest),
         |una AS (SELECT tok, COUNT(*) AS na FROM unb GROUP BY tok),
         |ubst AS (SELECT u.tok, u.seq FROM unb u JOIN una a USING (tok)
         | WHERE u.rn =
         |  ${polyHashSql(s"u.tok || '|ugs$sampleSeed'")} % a.na + 1)"""
        .stripMargin
    val tail =
      s"""$pick,
         |udone AS (SELECT tok, seq FROM ubst
         | UNION ALL
         | SELECT DISTINCT tok, '[UNK]' AS seq FROM adt
         | WHERE len(tok) > $maxInputChars),
         |upl AS (SELECT tok, string_split(seq, ' ') AS pl FROM udone),
         |ufl AS (SELECT doc_id, widx, k, pl[CAST(k + 1 AS INT)]
         |  AS piece
         | FROM (SELECT d.doc_id, d.widx, w.pl,
         |   unnest(range(len(w.pl))) AS k
         |  FROM adt d JOIN upl w USING (tok)))""".stripMargin
    // id layout: frozen (piece ASC) rank, OR — extendIds — the
    // append-only allocator replay: base ids from the even-docs vocab
    // (frozen rank), new pieces of the full vocab numbered after the
    // base max (TokenizerArtifact.extendIds' exact arithmetic)
    val idCtes = if (!extendIds)
      """uvid AS (SELECT piece,
        |  CAST(row_number() OVER (ORDER BY piece) - 1 AS BIGINT)
        |   AS piece_id FROM uvocab)""".stripMargin
    else
      """vids AS (SELECT piece,
        |  CAST(row_number() OVER (ORDER BY piece) - 1 AS BIGINT)
        |   AS piece_id FROM vvocab),
        |uvid AS (SELECT piece, piece_id FROM vids
        | UNION ALL
        | SELECT piece,
        |  (SELECT COALESCE(MAX(piece_id), -1) FROM vids)
        |   + row_number() OVER (ORDER BY piece) AS piece_id
        | FROM uvocab
        | WHERE piece NOT IN (SELECT piece FROM vids))""".stripMargin
    val sel = if (!ids)
      """SELECT doc_id,
        | CAST(row_number() OVER (PARTITION BY doc_id
        |   ORDER BY widx, k) - 1 AS BIGINT) AS pos,
        | piece
        |FROM ufl ORDER BY doc_id, pos""".stripMargin
    else
      s"""$idCtes
        |SELECT doc_id,
        | CAST(row_number() OVER (PARTITION BY doc_id
        |   ORDER BY widx, k) - 1 AS BIGINT) AS pos,
        | COALESCE(u.piece_id, -1) AS piece_id
        |FROM ufl LEFT JOIN uvid u USING (piece)
        |ORDER BY doc_id, pos""".stripMargin
    val baseVocab = if (!extendIds) "" else
      ",\n" + unigramVocabCtesSql(maxPieceLen, topPieces, p = "v",
        src = "(SELECT * FROM documents WHERE doc_id % 2 = 0)")
    // the ids variant carries its own id-CTE head, so the chain
    // gains one trailing comma before it
    materializeCtes(
      s"""WITH ${unigramVocabCtesSql(maxPieceLen, topPieces)}$baseVocab,
         |$aug,
         |$stages,
         |$tail${if (ids) "," else ""}
         |$sel""".stripMargin)
  }

  /** q256: the nBest-knob sweep replay — ONE enumeration + ranking,
    * then per-nBest seeded picks (rn = polyHash mod LEAST(available,
    * nBest) + 1) and the total sampled token count per knob value.
    * Over-length words contribute their single [UNK] at every knob.
    */
  private def unigramNBestSweepOracleSql(maxPieceLen: Int,
      topPieces: Int, maxInputChars: Int, nbs: Seq[Int],
      seed: Long): String = {
    val (aug, stages, rankCte) =
      unigramEnumParts(maxPieceLen, maxInputChars)
    val picks = nbs.map { nb =>
      s"""pk$nb AS (SELECT u.tok, u.seq FROM urk u JOIN una a USING (tok)
         | WHERE u.rn =
         |  ${polyHashSql(s"u.tok || '|ugs$seed'")} % LEAST(a.nseg, $nb)
         |   + 1),
         |ct$nb AS (SELECT CAST(SUM(len(string_split(w.seq, ' ')))
         |   AS BIGINT) AS n
         | FROM adt d JOIN (SELECT tok, seq FROM pk$nb
         |  UNION ALL
         |  SELECT DISTINCT tok, '[UNK]' AS seq FROM adt
         |  WHERE len(tok) > $maxInputChars) w USING (tok))"""
        .stripMargin
    }.mkString(",\n")
    val rows = nbs.map(nb =>
      s"SELECT CAST($nb AS BIGINT) AS n_best, n AS n_tokens FROM ct$nb")
      .mkString("\n UNION ALL\n ")
    materializeCtes(
      s"""WITH ${unigramVocabCtesSql(maxPieceLen, topPieces)},
         |$aug,
         |$stages,
         |$rankCte,
         |una AS (SELECT tok, COUNT(*) AS nseg FROM urk GROUP BY tok),
         |$picks
         |$rows
         |ORDER BY n_best""".stripMargin)
  }

  /** q223: the SFT-decontamination replay — plant benchmark text into
    * every 50th conversation's last turn, render (the q214 piece
    * template), union with the benchmark slice under a ≥ 10⁶ id
    * offset, then the q186 signature chain (2-shingle portable
    * MinHash, 32 bands of 2 perms) with the id-offset split
    * discriminating training from benchmark.
    */
  private lazy val SftDeconOracleSql: String = {
    val sig = minhashSigCtesSql(2).replace("FROM documents", "FROM sftc")
    materializeCtes(
      s"""WITH $SftTurnCtesSql,
         |t2 AS (SELECT conv_id, turn_idx, role,
         |  CASE WHEN conv_id % 50 = 0 AND turn_idx = 5
         |   THEN (SELECT d.text FROM documents d
         |     WHERE d.doc_id = ((t.conv_id // 50) % 25) * 20)
         |   ELSE t.text END AS text
         | FROM t),
         |p2 AS (SELECT conv_id, turn_idx,
         |  '<|' || role || '|> ' || text AS piece FROM t2),
         |rend AS (SELECT conv_id + 1000000 AS doc_id,
         |  string_agg(piece, ' ' ORDER BY turn_idx) AS text
         | FROM p2 GROUP BY conv_id),
         |sftc AS (SELECT doc_id, text FROM rend
         | UNION ALL
         | SELECT CAST(doc_id AS BIGINT) AS doc_id, text
         | FROM documents WHERE doc_id % 20 = 0),
         |$sig,
         |zpr AS (SELECT DISTINCT x.doc_id AS doc_id,
         |  y.doc_id AS bench_id
         | FROM bnd x JOIN bnd y ON x.band = y.band
         |  AND x.bucket = y.bucket
         | WHERE x.doc_id >= 1000000 AND y.doc_id < 1000000),
         |zsc AS (SELECT doc_id, bench_id, est FROM (
         |  SELECT p.doc_id, p.bench_id,
         |   SUM(CASE WHEN sa.m = sb.m THEN 1 ELSE 0 END) / 64.0 AS est
         |  FROM zpr p JOIN sigj sa ON sa.doc_id = p.doc_id
         |  JOIN sigj sb ON sb.doc_id = p.bench_id AND sb.j = sa.j
         |  GROUP BY 1, 2) WHERE est >= 0.5),
         |fm AS (SELECT doc_id, COUNT(*) AS n_matches, MAX(est) AS mx
         | FROM zsc GROUP BY doc_id)
         |SELECT r.doc_id,
         | CAST(COALESCE(fm.n_matches, 0) AS BIGINT) AS n_matches,
         | COALESCE(fm.mx, 0.0) AS max_est_jaccard,
         | COALESCE(fm.n_matches, 0) > 0 AS contaminated
         |FROM rend r LEFT JOIN fm USING (doc_id)
         |ORDER BY doc_id""".stripMargin)
  }

  /** q216/q217 WordPiece vocabulary-mining replay: word frequencies →
    * positional substring candidates (word-initial unmarked, later
    * positions '##'-marked, length ≤ `maxPieceLen`) → `wpvocab` = all
    * single-char pieces ∪ top-`topPieces` multi-char by (cnt DESC,
    * piece ASC). Exact integer counts.
    */
  /** WordPiece mining CTEs, prefix/source-parameterized so a lane can
    * mine TWO vocabularies (base corpus + extended corpus — the q246
    * allocator replay) in one oracle. Ends at `${p}pvocab`.
    */
  private def wordpieceVocabCtesSql(maxPieceLen: Int, topPieces: Int,
                                    p: String = "w",
                                    src: String = "documents"): String = {
    val single = "(piece LIKE '##%' AND len(piece) = 3) " +
      "OR (piece NOT LIKE '##%' AND len(piece) = 1)"
    s"""${p}tk AS (SELECT unnest(list_filter(
       |    string_split_regex(trim(text), '\\s+'), x -> len(x) > 0))
       |  AS tok FROM $src),
       |${p}fr AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS wc
       | FROM ${p}tk GROUP BY tok),
       |${p}cp AS (SELECT tok, wc, unnest(range(len(tok))) AS p
       | FROM ${p}fr),
       |${p}cl AS (SELECT tok, wc, p,
       |  unnest(range(1, least($maxPieceLen, len(tok) - p) + 1)) AS l
       | FROM ${p}cp),
       |${p}pc AS (SELECT CASE WHEN p = 0
       |   THEN substr(tok, 1, CAST(l AS INT))
       |   ELSE '##' || substr(tok, CAST(p + 1 AS INT), CAST(l AS INT))
       |  END AS piece, wc FROM ${p}cl),
       |${p}ag AS (SELECT piece, CAST(SUM(wc) AS BIGINT) AS cnt
       | FROM ${p}pc GROUP BY piece),
       |${p}mu AS (SELECT piece, cnt FROM ${p}ag
       | WHERE NOT ($single) AND piece <> '[UNK]'
       | ORDER BY cnt DESC, piece LIMIT $topPieces),
       |${p}pvocab AS (SELECT piece, cnt FROM ${p}ag WHERE $single
       | UNION ALL SELECT piece, cnt FROM ${p}mu)""".stripMargin
  }

  /** q217's greedy longest-match replay: `stages` unrolled rounds
    * over the distinct word table of the augmented corpus — round s
    * finds each in-progress word's longest vocab piece at its cursor
    * (`wb$s`) and advances (`wst$s`); a finished word passes through
    * unchanged. A surviving word consumes ≥ 1 char per round, so
    * `stages` = maxInputChars rounds are pigeonhole-complete; words
    * over maxInputChars chars bypass the rounds as whole-word [UNK]
    * (BERT's max_input_chars_per_word guard). The final SELECT only
    * admits words whose cursor REACHED the end — a stalled word
    * (vocabulary missing one of its single chars; impossible under
    * the mining guarantee) would surface as a row-count mismatch,
    * never a silently-partial encoding. Every stage CTE is
    * MATERIALIZED (3 references each — the BPE-chain discipline).
    */
  /** The WordPiece mining + greedy-encode CTE chain alone (ends at
    * `wfl`, with `adt` as the corpus word table) — composable into
    * multi-tokenizer oracles (q277). `augment = false` drops the
    * every-25th-doc long-word augment (the plain corpus both
    * tokenizers of a selection table must share).
    */
  private def wordpieceEncodeCtesSql(maxPieceLen: Int, topPieces: Int,
                                     maxInputChars: Int,
                                     src: String = "documents",
                                     augment: Boolean = true,
                                     p: String = ""): String = {
    def pieceAt(tok: String, pos: String, l: String) =
      s"CASE WHEN $pos = 0 THEN substr($tok, 1, CAST($l AS INT)) " +
        s"ELSE '##' || substr($tok, CAST($pos + 1 AS INT), " +
        s"CAST($l AS INT)) END"
    val augText = if (augment)
      s"""CASE WHEN doc_id % 25 = 0
         |   THEN text || ' ${"x" * 20}' ELSE text END""".stripMargin
    else "text"
    val aug =
      s"""${p}adocs AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
         |  $augText AS text
         | FROM $src),
         |${p}adt AS (SELECT doc_id, widx, ws[CAST(widx + 1 AS INT)] AS tok
         | FROM (SELECT doc_id, ws, unnest(range(len(ws))) AS widx
         |  FROM (SELECT doc_id, list_filter(string_split_regex(
         |    trim(text), '\\s+'), x -> len(x) > 0) AS ws
         |   FROM ${p}adocs))),
         |${p}wst0 AS (SELECT tok, len(tok) AS n, 0 AS pos, '' AS toks
         | FROM (SELECT DISTINCT tok FROM ${p}adt
         |  WHERE len(tok) <= $maxInputChars))""".stripMargin
    val stages = (1 to maxInputChars).map { s =>
      val prev = s"${p}wst${s - 1}"
      s"""${p}wb$s AS (SELECT tok, pos, MAX(l) AS bl FROM (
         |  SELECT tok, pos, n, unnest(range(1,
         |    least($maxPieceLen, n - pos) + 1)) AS l
         |  FROM $prev WHERE pos < n) c
         | JOIN ${p}wpvocab v
         |  ON v.piece = ${pieceAt("c.tok", "c.pos", "c.l")}
         | GROUP BY tok, pos),
         |${p}wst$s AS (SELECT s.tok, s.n, s.pos + b.bl AS pos,
         |  CASE WHEN s.toks = '' THEN '' ELSE s.toks || ' ' END ||
         |   ${pieceAt("s.tok", "s.pos", "b.bl")} AS toks
         | FROM $prev s JOIN ${p}wb$s b ON s.tok = b.tok AND s.pos = b.pos
         | WHERE s.pos < s.n
         | UNION ALL
         | SELECT tok, n, pos, toks FROM $prev
         | WHERE pos >= n)""".stripMargin
    }.mkString(",\n")
    val tail =
      s"""${p}wdone AS (SELECT tok, toks FROM ${p}wst$maxInputChars
         | WHERE pos >= n
         | UNION ALL
         | SELECT DISTINCT tok, '[UNK]' AS toks FROM ${p}adt
         | WHERE len(tok) > $maxInputChars),
         |${p}wpl AS (SELECT tok, string_split(toks, ' ') AS pl
         | FROM ${p}wdone),
         |${p}wfl AS (SELECT doc_id, widx, k, pl[CAST(k + 1 AS INT)]
         |  AS piece
         | FROM (SELECT d.doc_id, d.widx, w.pl,
         |   unnest(range(len(w.pl))) AS k
         |  FROM ${p}adt d JOIN ${p}wpl w USING (tok)))""".stripMargin
    wordpieceVocabCtesSql(maxPieceLen, topPieces, p = s"${p}w", src = src) + ",\n" +
      aug + ",\n" + stages + ",\n" + tail
  }

  private def wordpieceEncodeOracleSql(maxPieceLen: Int, topPieces: Int,
                                       maxInputChars: Int,
                                       ids: Boolean = false,
                                       src: String = "documents",
                                       decodeWords: Boolean = false,
                                       fertility: Boolean = false): String = {
    val sel = if (fertility)
      // q273: the tokenizer-selection aggregate over the piece
      // stream — every word opens with exactly one unmarked piece
      // ([UNK] included), so n_words needs no corpus join
      """wstat AS (SELECT
        |  SUM(CASE WHEN piece LIKE '##%' THEN 0 ELSE 1 END)
        |   AS n_words,
        |  COUNT(*) AS n_pieces,
        |  SUM(CASE WHEN piece = '[UNK]' THEN 1 ELSE 0 END) AS n_unk,
        |  SUM(CASE WHEN piece = '[UNK]' THEN 0
        |    WHEN piece LIKE '##%' THEN len(piece) - 2
        |    ELSE len(piece) END) AS content_chars
        | FROM wfl)
        |SELECT CAST(n_words AS BIGINT) AS n_words,
        | CAST(n_pieces AS BIGINT) AS n_pieces,
        | CAST(n_unk AS BIGINT) AS n_unk,
        | CAST(n_pieces * 10000 // n_words AS BIGINT) AS fertility_10k,
        | CAST(n_unk * 10000 // n_words AS BIGINT) AS unk_10k,
        | CAST(content_chars AS BIGINT) AS content_chars,
        | CAST(content_chars * 10000 // n_pieces AS BIGINT)
        |  AS chars_per_piece_10k
        |FROM wstat""".stripMargin
    else if (decodeWords)
      // encode to ids with the frozen BASE rank, decode BACK by id,
      // and regroup the decoded pieces into words ('##' strips and
      // appends, anything else — [UNK] included — opens a word): the
      // q262 oracle. The ENGINE decodes with the EXTENDED id table,
      // so the hash match IS the old-shards-keep-decoding guarantee.
      """wfp AS (SELECT doc_id,
        |  CAST(row_number() OVER (PARTITION BY doc_id
        |    ORDER BY widx, k) - 1 AS BIGINT) AS pos, piece FROM wfl),
        |idm AS (SELECT piece, CAST(row_number() OVER (ORDER BY piece)
        |  - 1 AS BIGINT) AS piece_id FROM wpvocab),
        |enc AS (SELECT f.doc_id, f.pos,
        |  COALESCE(i.piece_id, CAST(-1 AS BIGINT)) AS piece_id
        | FROM wfp f LEFT JOIN idm i USING (piece)),
        |dcd AS (SELECT e.doc_id, e.pos,
        |  CASE WHEN e.piece_id = -1 THEN '[UNK]' ELSE i.piece END
        |   AS piece
        | FROM enc e LEFT JOIN idm i USING (piece_id)),
        |wbx AS (SELECT doc_id, pos, piece,
        |  SUM(CASE WHEN piece LIKE '##%' THEN 0 ELSE 1 END)
        |   OVER (PARTITION BY doc_id ORDER BY pos
        |     ROWS UNBOUNDED PRECEDING) AS widx
        | FROM dcd)
        |SELECT doc_id, CAST(widx - 1 AS BIGINT) AS word_idx,
        | string_agg(CASE WHEN piece LIKE '##%' THEN substr(piece, 3)
        |   ELSE piece END, '' ORDER BY pos) AS word
        |FROM wbx GROUP BY doc_id, widx
        |ORDER BY doc_id, word_idx""".stripMargin
    else if (!ids)
      """SELECT doc_id,
        | CAST(row_number() OVER (PARTITION BY doc_id
        |   ORDER BY widx, k) - 1 AS BIGINT) AS pos,
        | piece
        |FROM wfl ORDER BY doc_id, pos""".stripMargin
    else
      """wfp AS (SELECT doc_id,
        |  CAST(row_number() OVER (PARTITION BY doc_id
        |    ORDER BY widx, k) - 1 AS BIGINT) AS pos, piece FROM wfl),
        |idm AS (SELECT piece, CAST(row_number() OVER (ORDER BY piece)
        |  - 1 AS BIGINT) AS piece_id FROM wpvocab)
        |SELECT f.doc_id, f.pos,
        | COALESCE(i.piece_id, CAST(-1 AS BIGINT)) AS piece_id
        |FROM wfp f LEFT JOIN idm i USING (piece)
        |ORDER BY doc_id, pos""".stripMargin
    materializeCtes("WITH " +
      wordpieceEncodeCtesSql(maxPieceLen, topPieces, maxInputChars,
        src = src) +
      (if (ids || decodeWords || fertility) ",\n" else "\n") + sel)
  }

  /** q246: the append-only allocator replay — base vocab mined from
    * the even docs (prefix b), extended vocab from the full corpus
    * (prefix w), base ids = frozen (piece ASC) rank, new pieces =
    * base max + rank among themselves ([[graft.operators
    * .TokenizerArtifact.extendIds]]' exact arithmetic).
    */
  private lazy val WpExtendIdsOracleSql: String = materializeCtes(
    s"""WITH ${wordpieceVocabCtesSql(6, 60, p = "b",
          src = "(SELECT * FROM documents WHERE doc_id % 2 = 0)")},
       |${wordpieceVocabCtesSql(6, 60)},
       |bids AS (SELECT piece,
       |  CAST(row_number() OVER (ORDER BY piece) - 1 AS BIGINT)
       |   AS piece_id FROM bpvocab),
       |nids AS (SELECT piece,
       |  (SELECT COALESCE(MAX(piece_id), -1) FROM bids)
       |   + row_number() OVER (ORDER BY piece) AS piece_id
       | FROM wpvocab WHERE piece NOT IN (SELECT piece FROM bids))
       |SELECT piece, CAST(piece_id AS BIGINT) AS piece_id,
       | CAST(is_new AS BIGINT) AS is_new FROM (
       | SELECT piece, piece_id, 0 AS is_new FROM bids
       | UNION ALL SELECT piece, piece_id, 1 AS is_new FROM nids)
       |ORDER BY piece_id""".stripMargin)

  /** q249: split-leakage replay — the union corpus (every 40th doc
    * near-copied under id + 10⁶ with a 3-token tail) through the
    * 32-band signature chain, candidate pairs scored by signature
    * agreement, est ≥ 0.5 survivors joined to the q113 split hash on
    * both sides, counted per UNORDERED split boundary.
    */
  private lazy val SplitLeakageOracleSql: String = {
    val sig = minhashSigCtesSql(2).replace("FROM documents", "FROM lk")
    val splitCase =
      s"""CASE WHEN ${polyHashSql("CAST(doc_id AS VARCHAR) || '|split'")}
         |    % 10000 < 8000 THEN 'train'
         |  WHEN ${polyHashSql("CAST(doc_id AS VARCHAR) || '|split'")}
         |    % 10000 < 9000 THEN 'val'
         |  ELSE 'test' END""".stripMargin
    materializeCtes(
      s"""WITH lk AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, text
         |  FROM documents
         | UNION ALL
         | SELECT CAST(doc_id AS BIGINT) + 1000000,
         |  text || ' extra tail tokens'
         | FROM documents WHERE doc_id % 40 = 0),
         |$sig,
         |zpr AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         | FROM bnd x JOIN bnd y ON x.band = y.band
         |  AND x.bucket = y.bucket AND x.doc_id < y.doc_id),
         |zes AS (SELECT p.doc_a, p.doc_b,
         |  SUM(CASE WHEN sa.m = sb.m THEN 1 ELSE 0 END) / 64.0 AS est
         | FROM zpr p JOIN sigj sa ON sa.doc_id = p.doc_a
         |  JOIN sigj sb ON sb.doc_id = p.doc_b AND sb.j = sa.j
         | GROUP BY 1, 2),
         |spl AS (SELECT doc_id, $splitCase AS split FROM lk),
         |str AS (SELECT least(a.split, b.split) AS split_a,
         |  greatest(a.split, b.split) AS split_b
         | FROM zes e JOIN spl a ON a.doc_id = e.doc_a
         |  JOIN spl b ON b.doc_id = e.doc_b
         | WHERE e.est >= 0.5)
         |SELECT split_a, split_b, CAST(COUNT(*) AS BIGINT) AS n_pairs
         |FROM str GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
  }

  /** q250/q251 shared cross-modal retrieval CTEs: the alignment
    * fixture's features (AlignScoreCtesSql's `ahs`: caption embed v +
    * image hist h per image doc) int8-quantized on both sides (the
    * quantizeInt8 replay), images clustered by (doc_id div 5) % 4,
    * captions (every 20th doc, +5·10⁶ query ids) scored against
    * probed clusters with the engine's exact
    * round(dot/(n·n), 4)+0.0 ranking. `chain(sfx, probes)` ends at
    * `xr$sfx` (query_id, neighbor_id, sim, rank).
    */
  private def xmodalChainSql(sfx: String, probes: String): String =
    s"""xp$sfx AS (SELECT query_id, qq, qn,
       |  unnest(list_distinct($probes)) AS probe FROM xqn),
       |xs$sfx AS (SELECT query_id, c.doc_id AS neighbor_id,
       |  round(list_dot_product(qq, c.q) / (qn * c.nrm), 4) + 0.0
       |    AS sim
       | FROM xp$sfx JOIN xnn c ON probe = c.cluster
       |  AND query_id <> c.doc_id),
       |xr$sfx AS (SELECT query_id, neighbor_id, sim,
       |  row_number() OVER (PARTITION BY query_id
       |   ORDER BY sim DESC, neighbor_id) AS rank FROM xs$sfx)"""
      .stripMargin

  private lazy val XmodalBaseCtesSql: String =
    s"""$AlignScoreCtesSql,
       |xn AS (SELECT doc_id, (doc_id // 5) % 4 AS cluster,
       |  list_transform(h, x -> floor((x * 127) /
       |    list_max(list_transform(h, y -> abs(y))))) AS q
       | FROM ahs),
       |xnn AS (SELECT doc_id, cluster, q,
       |  sqrt(list_dot_product(q, q)) AS nrm FROM xn),
       |xqv AS (SELECT doc_id, doc_id + 5000000 AS query_id,
       |  list_transform(v, x -> floor((x * 127) /
       |    list_max(list_transform(v, y -> abs(y))))) AS qq
       | FROM ahs WHERE doc_id % 20 = 0
       |  AND list_max(list_transform(v, y -> abs(y))) > 0),
       |xqn AS (SELECT doc_id, query_id, qq,
       |  sqrt(list_dot_product(qq, qq)) AS qn FROM xqv)""".stripMargin

  /** q213/q254: the span-layout replay — shared turn CTEs → one
    * cumsum per conversation (q254 reads it over the COMPACTED
    * stream state: compaction must be invisible).
    */
  private lazy val SftSpansOracleSql: String =
    s"""WITH $SftTurnCtesSql,
       |s AS (SELECT conv_id, turn_idx, role, piece, n_tokens,
       |  SUM(n_tokens) OVER (PARTITION BY conv_id ORDER BY turn_idx
       |    ROWS UNBOUNDED PRECEDING) AS end_tok
       | FROM p)
       |SELECT conv_id, turn_idx, role, piece,
       | CAST(end_tok - n_tokens AS BIGINT) AS start_tok,
       | CAST(end_tok AS BIGINT) AS end_tok,
       | CAST(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END
       |   AS BIGINT) AS in_loss
       |FROM s ORDER BY conv_id, turn_idx""".stripMargin

  private lazy val XmodalRetrievalOracleSql: String = materializeCtes(
    s"""WITH $XmodalBaseCtesSql,
       |${xmodalChainSql("A",
          "[(doc_id // 5) % 4, ((doc_id // 5) + 1) % 4]")}
       |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, sim
       |FROM xrA WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin)

  private lazy val XmodalRecallOracleSql: String = materializeCtes(
    s"""WITH $XmodalBaseCtesSql,
       |${xmodalChainSql("A",
          "[(doc_id // 5) % 4, ((doc_id // 5) + 1) % 4]")},
       |${xmodalChainSql("T", "[0, 1, 2, 3]")},
       |xak AS (SELECT query_id, neighbor_id FROM xrA WHERE rank <= 3),
       |xtk AS (SELECT query_id, neighbor_id FROM xrT WHERE rank <= 3),
       |xh AS (SELECT a.query_id, COUNT(*) AS n_hit
       | FROM xak a JOIN xtk t ON a.query_id = t.query_id
       |  AND a.neighbor_id = t.neighbor_id
       | GROUP BY a.query_id)
       |SELECT q.query_id, CAST(3 AS BIGINT) AS k,
       | CAST(COALESCE(xh.n_hit, 0) AS BIGINT) AS n_hit,
       | CAST(COALESCE(xh.n_hit, 0) AS DOUBLE) / 3 AS recall
       |FROM (SELECT DISTINCT query_id FROM xtk) q
       |LEFT JOIN xh USING (query_id) ORDER BY query_id""".stripMargin)

  /** q259: the allocator on the THIRD id layout (the BPE |Σ|+step
    * table): BOTH merge trainings replayed (base = even docs, prefix
    * e; ext = full corpus), each vocab assembled exactly like the
    * q107 layout (chars in binary rank, products at |Σ|+step−1 with
    * first-occurrence dedup via MIN), then the append-only
    * arithmetic. The footgun this prices: the ext corpus's alphabet
    * gains characters, which under the frozen layout renumbers EVERY
    * merge product (nBase shifts) — the allocator keeps them all.
    */
  private lazy val BpeExtendIdsOracleSql: String = {
    def vocCtes(pfx: String): String = {
      val mergedSel = (1 to BpeSteps).map(s =>
        s"SELECT $s AS step, a || b AS token FROM ${pfx}m$s")
        .mkString("\nUNION ALL\n")
      s"""${pfx}chars AS (SELECT DISTINCT sym AS token FROM ${pfx}v0),
         |${pfx}cbase AS (SELECT ROW_NUMBER() OVER (ORDER BY token) - 1
         |   AS token_id, token FROM ${pfx}chars),
         |${pfx}cnb AS (SELECT COUNT(*) AS n FROM ${pfx}chars),
         |${pfx}cmrg AS (SELECT MIN(nb.n + step - 1) AS token_id, token
         | FROM ($mergedSel) m, ${pfx}cnb nb GROUP BY token),
         |${pfx}cvoc AS (SELECT token_id, token FROM ${pfx}cbase
         | UNION ALL SELECT token_id, token FROM ${pfx}cmrg)"""
        .stripMargin
    }
    materializeCtes(
      s"""WITH ${bpeChainSql(BpeSteps)},
         |${bpeChainSql(BpeSteps,
            src = "(SELECT * FROM documents WHERE doc_id % 2 = 0)",
            p = "e")},
         |${vocCtes("e")},
         |${vocCtes("")},
         |xnew AS (SELECT token FROM cvoc
         | WHERE token NOT IN (SELECT token FROM ecvoc)),
         |xids AS (SELECT token,
         |  (SELECT COALESCE(MAX(token_id), -1) FROM ecvoc)
         |   + ROW_NUMBER() OVER (ORDER BY token) AS token_id
         | FROM xnew)
         |SELECT token, CAST(token_id AS BIGINT) AS token_id,
         | CAST(is_new AS BIGINT) AS is_new FROM (
         | SELECT token, token_id, 0 AS is_new FROM ecvoc
         | UNION ALL SELECT token, token_id, 1 AS is_new FROM xids)
         |ORDER BY token_id, token""".stripMargin)
  }

  /** q260/q261: length-bucketed batching CTEs, prefix-parameterized —
    * whitespace widths → value buckets (n div bucketTokens) →
    * frozen-hash within-bucket order → batch div → per-(bucket,
    * batch) aggregates; ends at `${p}bt` (bucket, batch_idx, nd, mx,
    * sm, pad, slots).
    */
  /** q273/q276 shared annealing chain: widths + integer-band scores,
    * per-score-bucket cumulatives, within-bucket frozen-hash running
    * offsets — ends at `ast` (doc_id, score, n, st = global start).
    */
  private lazy val AnnealCtesSql: String =
    s"""ans AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
       |  CAST(len(list_filter(string_split_regex(trim(text),
       |    '\\s+'), x -> len(x) > 0)) AS BIGINT) AS n,
       |  CAST(len(list_distinct(list_filter(string_split_regex(
       |    trim(text), '\\s+'), x -> len(x) > 0))) AS BIGINT)
       |   AS score
       | FROM documents),
       |abt AS (SELECT score, SUM(n) AS bt FROM ans GROUP BY score),
       |acm AS (SELECT score, SUM(bt) OVER (ORDER BY score DESC
       |  ROWS UNBOUNDED PRECEDING) - bt AS cumb FROM abt),
       |arn AS (SELECT doc_id, score, n,
       |  SUM(n) OVER (PARTITION BY score ORDER BY
       |    ${polyHashSql("CAST(doc_id AS VARCHAR) || '|an'")},
       |    doc_id ROWS UNBOUNDED PRECEDING) - n AS rsb
       | FROM ans),
       |ast AS (SELECT r.doc_id, r.score, r.n, c.cumb + r.rsb AS st
       | FROM arn r JOIN acm c USING (score))""".stripMargin

  /** q272/q275 shared FIM chain: the seeded 90% draw, both salted
    * cut hashes, and the exact rebuilt PSM strings (fixed separators
    * — concat_ws is NOT portable: DuckDB stringifies an empty list
    * slice to NULL and concat_ws skips it, Spark keeps ''). Ends at
    * `fdoc` (doc_id, fim, n_prefix, n_middle, n_suffix, text).
    */
  private lazy val FimCtesSql: String =
    s"""fws AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
       |  list_filter(string_split_regex(trim(text), '\\s+'),
       |    x -> len(x) > 0) AS ws
       | FROM documents),
       |fcx AS (SELECT doc_id, ws, CAST(len(ws) AS BIGINT) AS n,
       |  CASE WHEN ${polyHashSql(
             "CAST(doc_id AS VARCHAR) || '|fim'")} % 10000 < 9000
       |    AND len(ws) > 0 THEN 1 ELSE 0 END AS fim
       | FROM fws),
       |fc2 AS (SELECT doc_id, ws, n, fim,
       |  CASE WHEN fim = 1 THEN ${polyHashSql(
             "CAST(doc_id AS VARCHAR) || '|fim1'")} % (n + 1)
       |   ELSE 0 END AS c1
       | FROM fcx),
       |fc3 AS (SELECT doc_id, ws, n, fim, c1,
       |  CASE WHEN fim = 1 THEN c1 + ${polyHashSql(
             "CAST(doc_id AS VARCHAR) || '|fim2'")} % (n - c1 + 1)
       |   ELSE n END AS c2
       | FROM fc2),
       |fdoc AS (SELECT doc_id, CAST(fim AS BIGINT) AS fim,
       |  CAST(c1 AS BIGINT) AS n_prefix,
       |  CAST(c2 - c1 AS BIGINT) AS n_middle,
       |  CAST(n - c2 AS BIGINT) AS n_suffix,
       |  CASE WHEN fim = 1 THEN '<PRE> ' ||
       |    COALESCE(array_to_string(ws[1:CAST(c1 AS INT)], ' '), '') ||
       |    ' <SUF> ' ||
       |    COALESCE(array_to_string(
       |      ws[CAST(c2 + 1 AS INT):CAST(n AS INT)], ' '), '') ||
       |    ' <MID> ' ||
       |    COALESCE(array_to_string(
       |      ws[CAST(c1 + 1 AS INT):CAST(c2 AS INT)], ' '), '')
       |   ELSE array_to_string(ws, ' ') END AS text
       | FROM fc3)""".stripMargin

  /** `lbSql` overrides the (doc_id, n) width source — the q264
    * composition feeds RENDERED SFT conversation widths instead of
    * raw document token counts.
    */
  private def lengthBatchCte(bucketTokens: Long, p: String,
                             lbSql: Option[String] = None): String =
    s"""${p}lb AS (${lbSql.getOrElse(
         s"""SELECT CAST(doc_id AS BIGINT) AS doc_id,
            |  CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
            |    x -> len(x) > 0)) AS BIGINT) AS n
            | FROM documents""".stripMargin)}),
       |${p}bk AS (SELECT doc_id, n, n // $bucketTokens AS bucket,
       |  ${polyHashSql("CAST(doc_id AS VARCHAR) || '|lb'")} AS h
       | FROM ${p}lb),
       |${p}rn AS (SELECT doc_id, n, bucket,
       |  (row_number() OVER (PARTITION BY bucket ORDER BY h, doc_id)
       |   - 1) // 4 AS batch_idx
       | FROM ${p}bk),
       |${p}bt AS (SELECT bucket, batch_idx, COUNT(*) AS nd,
       |  MAX(n) AS mx, SUM(n) AS sm,
       |  COUNT(*) * MAX(n) - SUM(n) AS pad,
       |  COUNT(*) * MAX(n) AS slots
       | FROM ${p}rn GROUP BY bucket, batch_idx)""".stripMargin

  private def lengthBatchOracleSql(bucketTokens: Long,
                                   manifest: Boolean): String =
    materializeCtes(
      s"""WITH ${lengthBatchCte(bucketTokens, "m")}
         |SELECT bucket, batch_idx, CAST(nd AS BIGINT) AS n_docs,
         | CAST(mx AS BIGINT) AS max_tokens,
         | CAST(sm AS BIGINT) AS sum_tokens,
         | CAST(pad AS BIGINT) AS pad_tokens
         |FROM mbt ORDER BY bucket, batch_idx""".stripMargin)

  private def dec(c: Column, p: Int = 18, sc: Int = 2): Column =
    c.cast(s"decimal($p,$sc)")

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q01_pricing_summary")(spark, "/root/testdata/sf0.001")

  // ===================================================================

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- A2/A7-style aggregation (read path) ------------------------
    "q01_pricing_summary" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
          sum(dec(col("l_extendedprice"))).cast("double").as("sum_base_price"),
          sum(dec(col("l_extendedprice")) *
            dec(lit(1.0) - col("l_discount"), 18, 4)).cast("double")
            .as("sum_disc_price"),
          (sum(dec(col("l_quantity"))).cast("double") / count(lit(1)))
            .as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // ---- A2: min/max per stream -------------------------------------
    "q02_stream_minmax" -> ((s, dir) => {
      eventsUs(s, dir)
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          min(col("ts_us")).as("first_us"),
          max(col("ts_us")).as("last_us"),
          sum(dec(col("value"))).cast("double").as("sum_value"))
        .orderBy(col("user_id"), col("event_type"))
    }),

    // ---- A1: distinct stream inventory w/ broadcast dim join --------
    "q03_stream_inventory" -> ((s, dir) => {
      eventsUs(s, dir)
        .join(broadcast(t(s, dir, "customer")),
          col("user_id") === col("c_custkey"))
        .select(col("user_id"), col("event_type"), col("c_mktsegment"))
        .distinct()
        .orderBy(col("user_id"), col("event_type"))
    }),

    // ---- A4: gap detection ------------------------------------------
    "q04_gap_detect" -> ((s, dir) => {
      Temporal.gaps(eventsUs(s, dir), Seq("user_id"), "ts_us", "event_id")
        .filter(col("gap_us") > 7200000000L)
        .select(col("user_id"), col("event_id").cast("long").as("event_id"),
          col("ts_us"), col("gap_us"))
        .orderBy(col("user_id"), col("event_id"))
    }),

    // ---- W4 batch analog: sessionization ----------------------------
    "q05_sessionize" -> ((s, dir) => {
      Temporal.sessionize(eventsUs(s, dir), Seq("user_id"), "ts_us",
          "event_id", gapUs = 1800000000L)
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          min(col("ts_us")).as("session_start_us"),
          max(col("ts_us")).as("session_end_us"))
        .orderBy(col("user_id"), col("session_id"))
    }),

    // ---- A5/O2: live state (argmax per key) -------------------------
    "q06_live_state" -> ((s, dir) => {
      Temporal.asOfState(eventsUs(s, dir), Seq("user_id"), "ts_us",
          "event_id", tUs = Long.MaxValue)
        .select(col("user_id"), col("event_id").as("last_event_id"),
          col("event_type").as("state"), col("value"),
          col("ts_us").as("valid_from_us"))
        .orderBy(col("user_id"))
    }),

    // ---- O12: SCD-2 history derivation ------------------------------
    "q07_scd2_history" -> ((s, dir) => {
      Temporal.scd2History(eventsUs(s, dir), Seq("user_id"), "ts_us",
          "event_id")
        .select(col("user_id"), col("event_id"),
          col("event_type").as("state"), col("ts_us").as("valid_from_us"),
          col("valid_until_us"))
        .orderBy(col("user_id"), col("valid_from_us"), col("event_id"))
    }),

    // ---- F10: time travel (AS OF) -----------------------------------
    "q08_time_travel" -> ((s, dir) => {
      Temporal.asOfState(eventsUs(s, dir), Seq("user_id"), "ts_us",
          "event_id", tUs = 1704412800000000L)
        .select(col("user_id"), col("event_id"),
          col("event_type").as("state"), col("ts_us").as("valid_from_us"))
        .orderBy(col("user_id"))
    }),

    // ---- J5: point-in-time interval join ----------------------------
    "q09_interval_join" -> ((s, dir) => {
      val e = eventsUs(s, dir)
      val p = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          col("ts_us").as("p_ts_us"))
      val c = e.filter(col("event_type") === "click")
        .select(col("user_id"),
          col("event_id").as("click_id"), col("ts_us").as("c_ts_us"))
      // key passed explicitly: the equi-join on user_id is part of the
      // operator contract, not something the optimizer must recover
      Temporal.intervalJoin(p, c, Seq("user_id"), col("p_ts_us"),
          col("c_ts_us"), windowUs = 3600000000L)
        .select(col("purchase_id"), col("click_id"),
          (col("p_ts_us") - col("c_ts_us")).as("lead_us"))
        .orderBy(col("purchase_id"), col("click_id"))
    }),

    // ---- J1: disjunctive identifier lookup --------------------------
    "q10_disjunctive_lookup" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val byCust = o.join(c, o("o_custkey") === c("c_custkey"))
      val byNation = o.join(c, o("o_custkey") === c("c_nationkey"))
      byCust.select(col("o_orderkey"), col("c_custkey"))
        .union(byNation.select(col("o_orderkey"), col("c_custkey")))
        .distinct()
        .orderBy(col("o_orderkey"), col("c_custkey"))
    }),

    // ---- J13/A8: anti join (customers w/o recent orders) ------------
    "q11_anti_join" -> ((s, dir) => {
      t(s, dir, "customer")
        .join(t(s, dir, "orders")
            .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }),

    // ---- A6/J13: semi join (exists) ---------------------------------
    "q12_semi_join" -> ((s, dir) => {
      t(s, dir, "customer")
        .join(t(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT"),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }),

    // ---- U1: union + dedup ------------------------------------------
    "q13_union_dedup" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      c.filter(col("c_acctbal") > 9000)
        .select(col("c_custkey"), col("c_name"))
        .union(c.filter(col("c_mktsegment") === "BUILDING")
          .select(col("c_custkey"), col("c_name")))
        .distinct()
        .orderBy(col("c_custkey"))
    }),

    // ---- X5/X6: posexplode with ordinality + per-sample timestamp ---
    "q14_posexplode_ts" -> ((s, dir) => {
      t(s, dir, "embeddings").filter(col("vec_id") < 8)
        .select(col("vec_id"), posexplode(col("embedding")))
        .select(col("vec_id"), col("pos").cast("long").as("pos"),
          col("col").cast("double").as("val"),
          sampleTsUs(lit(1704067200000000L), col("pos"), lit(300))
            .as("sample_ts_us"))
        .orderBy(col("vec_id"), col("pos"))
    }),

    // ---- S11/X12: synthetic sine waveform ---------------------------
    "q15_waveform_sine" -> ((s, dir) => {
      s.range(0, 3000).toDF("k")
        .select(col("k"),
          (round(lit(999.0) * sin(lit(2.0) * lit(math.Pi) * lit(5.0) *
            col("k").cast("double") / lit(300.0)), 6) + lit(0.0))
            .as("sample"))
        .orderBy(col("k"))
    }),

    // ---- F5: tri-state SAVE/DELETE/IGNORE fold ----------------------
    "q16_tristate_fold" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us").desc, col("event_id").desc)
      eventsUs(s, dir)
        .filter(col("event_type").isin("signup", "error"))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("user_id"),
          when(col("event_type") === "signup", col("value"))
            .otherwise(lit(null).cast("double")).as("merged_value"),
          col("event_type").as("last_action"))
        .orderBy(col("user_id"))
    }),

    // ---- O1/O2: bitemporal upsert kernel — live side ----------------
    "q17_upsert_kernel" -> ((s, dir) => {
      val updates = eventsUs(s, dir)
        .select(col("user_id"), col("ts_us"), col("event_id"),
          col("event_type").as("state"), col("value"))
      val r = BitemporalKernel.applyBatch(
        state = updates.limit(0), updates = updates,
        keyCols = Seq("user_id"), validFromUsCol = "ts_us",
        tieCol = "event_id", payloadCols = Seq("state", "value"))
      r.live.select(col("user_id"), col("event_id"), col("state"),
          col("value"), col("ts_us").as("valid_from_us"))
        .orderBy(col("user_id"))
    }),

    // ---- O2/O3: bitemporal upsert kernel — audit side ---------------
    "q18_upsert_audit" -> ((s, dir) => {
      val updates = eventsUs(s, dir)
        .select(col("user_id"), col("ts_us"), col("event_id"),
          col("event_type").as("state"), col("value"))
      val r = BitemporalKernel.applyBatch(
        state = updates.limit(0), updates = updates,
        keyCols = Seq("user_id"), validFromUsCol = "ts_us",
        tieCol = "event_id", payloadCols = Seq("state", "value"))
      r.audit.select(col("user_id"), col("event_id"), col("state"),
          col("ts_us").as("valid_from_us"), col("valid_until_us"))
        .orderBy(col("user_id"), col("valid_from_us"), col("event_id"))
    }),

    // ---- dedup: exact ------------------------------------------------
    "q19_dedup_exact" -> ((s, dir) => {
      Dedup.exact(t(s, dir, "documents"), "doc_id", "text")
        .select(col("keep_id"), col("n_dups"))
        .orderBy(col("keep_id"))
    }),

    // ---- PERSISTED exact-dedup index: two ingest folds --------------
    // Min-id and dup-count both merge (min composes, counts add), so
    // the folded dedup table equals the one-shot q19 result (verbatim
    // oracle) — exact dedup under continuous ingest, O(batch) folds.
    "q130_exact_dedup_incremental" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val idx = graft.SparkEntry.tmpDir("exact_idx")
      Dedup.exactIndexAppend(
        d.filter(pmod(col("doc_id"), lit(2)) === 0), "doc_id", "text",
        idx, 1L)
      Dedup.exactIndexAppend(
        d.filter(pmod(col("doc_id"), lit(2)) === 1), "doc_id", "text",
        idx, 2L)
      Dedup.exactFromIndex(s, idx)
        .select(col("keep_id"), col("n_dups"))
        .orderBy(col("keep_id"))
    }),

    // ---- dedup: token-bigram Jaccard (bounded candidate set) --------
    "q20_ngram_jaccard" -> ((s, dir) => {
      Dedup.ngramJaccard(t(s, dir, "documents").filter(col("doc_id") < 400),
          "doc_id", "text", n = 2, threshold = 0.3)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // ---- dedup: MinHash + LSH (scale path; portable-hash oracle) ----
    "q21_minhash_lsh" -> ((s, dir) => {
      Dedup.minhashLsh(t(s, dir, "documents"), "doc_id", "text",
          shingleN = 2, numPerm = 64, bands = 8,
          estThreshold = 0.125, maxBucketSize = 100, portable = true)
        .orderBy(col("est_jaccard").desc, col("doc_a"), col("doc_b"))
        .limit(500)
    }),

    // ---- dedup: SimHash signatures (portable-hash oracle) -----------
    "q22_simhash" -> ((s, dir) => {
      Dedup.simhashSigs(t(s, dir, "documents"), "doc_id", "text",
          portable = true)
        .orderBy(col("doc_id"))
    }),

    // ---- ANN: brute-force cosine top-k ------------------------------
    "q23_ann_brute" -> ((s, dir) => {
      val em = t(s, dir, "embeddings")
      Ann.bruteForceTopK(em.filter(col("vec_id") < 8), em,
          "vec_id", "embedding", k = 5)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- ANN: IVF-bucketed (cluster-pruned) top-k -------------------
    "q24_ann_ivf" -> ((s, dir) => {
      val em = t(s, dir, "embeddings")
      Ann.ivfTopK(em.filter(col("vec_id") < 8), em,
          "vec_id", "embedding", "label", k = 3)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- text quality stats -----------------------------------------
    "q25_text_stats" -> ((s, dir) => {
      TextAnalysis.stats(t(s, dir, "documents"), "doc_id", "text")
        .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
          col("n_distinct").cast("long").as("n_distinct"),
          col("stop_ratio"), col("avg_tok_len"), col("quality"))
        .orderBy(col("doc_id"))
    }),

    // ---- corpus profile per (lang, source) --------------------------
    "q26_lang_profile" -> ((s, dir) => {
      t(s, dir, "documents")
        .withColumn("n_tokens", size(tokens(col("text"))).cast("long"))
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("long").as("sum_chars"),
          sum(col("n_tokens")).cast("long").as("sum_tokens"),
          (sum(col("n_chars")).cast("double") / count(lit(1))).as("avg_chars"))
        .orderBy(col("lang"), col("source"))
    }),

    // ---- document fingerprint (rolling-hash analog) -----------------
    "q27_fingerprint" -> ((s, dir) => {
      TextAnalysis.fingerprints(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // ---- T1: top-k with deterministic tie-break ---------------------
    "q28_top_customers" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(sum(dec(col("o_totalprice"))).cast("double").as("revenue"),
          count(lit(1)).as("n_orders"))
        .orderBy(col("revenue").desc, col("o_custkey"))
        .limit(10)
    }),

    // ---- X8/X10-style enrich: regexp extract + string compose -------
    "q29_enrich_extract" -> ((s, dir) => {
      eventsUs(s, dir)
        .filter(col("event_type") === "click")
        .select(col("event_id"),
          regexp_extract(col("props"), "\"k\": (\\d+)", 1).cast("long")
            .as("k"),
          concat_ws("^", col("event_type"), col("user_id").cast("string"),
            lpad(col("event_id").cast("string"), 10, "0")).as("loc"))
        .orderBy(col("event_id"))
    }),

    // ---- O4/A6: identity merge + flag propagation -------------------
    "q30_identity_merge" -> ((s, dir) => {
      IdentityMerge.liveMapping(t(s, dir, "customer"), "c_custkey",
          "c_nationkey", col("c_acctbal") < 0)
        .select(col("mrn"), col("live_mrn"),
          col("opt_out").cast("long").as("opt_out"))
        .orderBy(col("mrn"))
    }),

    // ---- as-of join (backward) --------------------------------------
    "q31_asof_join" -> ((s, dir) => {
      val e = eventsUs(s, dir)
      val p = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts_us"), col("event_id"))
      val c = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts_us"), col("event_id"))
      Temporal.asOfJoinBackward(p, c, Seq("user_id"), "ts_us", "event_id",
          buildValueCols = Seq("event_id", "ts_us"))
        .select(col("event_id").as("purchase_id"),
          col("asof_event_id").as("last_click_id"),
          col("asof_ts_us").as("last_click_ts_us"))
        .orderBy(col("purchase_id"))
    }),

    // ---- multimodal: binary payload metadata plumbing ---------------
    "q32_media_meta" -> ((s, dir) => {
      t(s, dir, "documents")
        .withColumn("payload", encode(col("text"), "UTF-8"))
        .withColumn("n_bytes", expr("octet_length(payload)").cast("long"))
        .withColumn("modality",
          when(col("doc_id") % 3 === 0, "image")
            .when(col("doc_id") % 3 === 1, "audio").otherwise("video"))
        .select(col("doc_id"), col("modality"), col("n_bytes"),
          (lit(16) + col("n_bytes") % 64).cast("long").as("width"),
          (lit(16) + (col("n_bytes").cast("long") / lit(64)).cast("long") % 64)
            .cast("long").as("height"),
          when(col("modality") === "video", lit(1) + col("n_bytes") % 30)
            .otherwise(lit(1)).cast("long").as("n_frames"))
        .orderBy(col("doc_id"))
    }),

    // ---- ANN: sign-plane LSH buckets (portable integer oracle) ------
    "q33_ann_lsh" -> ((s, dir) => {
      val em = t(s, dir, "embeddings")
      Ann.lshBucketTopK(em.filter(col("vec_id") < 8), em,
          "vec_id", "embedding", dim = 64, nPlanes = 8, k = 5,
          portable = true)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- embedding-cosine near-dup w/ cluster blocking --------------
    "q34_embed_neardup" -> ((s, dir) => {
      Dedup.embeddingNearDup(t(s, dir, "embeddings"), "vec_id", "embedding",
          "label", simThreshold = 0.2, maxClusterSize = 2000)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // ---- token counting (BPE-ish estimator) -------------------------
    "q35_token_counts" -> ((s, dir) => {
      TextAnalysis.tokenCounts(t(s, dir, "documents"), "doc_id", "text")
        .select(col("doc_id"), col("n_words").cast("long").as("n_words"),
          col("est_bpe_tokens").cast("long").as("est_bpe_tokens"))
        .orderBy(col("doc_id"))
    }),

    // ---- O6 run-merge: coalesce same-state runs into intervals ------
    "q36_location_intervals" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
      eventsUs(s, dir)
        .withColumn("__prev", lag(col("event_type"), 1).over(w))
        .filter(col("__prev").isNull || col("event_type") =!= col("__prev"))
        .withColumn("valid_until_us", lead(col("ts_us"), 1).over(
          Window.partitionBy(col("user_id"))
            .orderBy(col("ts_us"), col("event_id"))))
        .select(col("user_id"), col("event_type").as("location"),
          col("ts_us").as("valid_from_us"), col("valid_until_us"))
        .orderBy(col("user_id"), col("valid_from_us"))
    }),

    // ---- F10 over run-merged intervals: occupancy as-of -------------
    "q37_occupancy_asof" -> ((s, dir) => {
      val tUs = 1704844800000000L // 2024-01-10
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
      eventsUs(s, dir)
        .withColumn("__prev", lag(col("event_type"), 1).over(w))
        .filter(col("__prev").isNull || col("event_type") =!= col("__prev"))
        .withColumn("valid_until_us", lead(col("ts_us"), 1).over(
          Window.partitionBy(col("user_id"))
            .orderBy(col("ts_us"), col("event_id"))))
        .filter(col("ts_us") <= tUs &&
          (col("valid_until_us").isNull || col("valid_until_us") > tUs))
        .groupBy(col("event_type").as("location"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy(col("location"))
    }),

    // ---- A3/X6: array cardinality aggregates ------------------------
    "q38_sample_stats" -> ((s, dir) => {
      t(s, dir, "embeddings")
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_vecs"),
          sum(size(col("embedding"))).cast("long").as("total_samples"),
          min(col("vec_id")).as("min_vec_id"),
          max(col("vec_id")).as("max_vec_id"))
        .orderBy(col("label"))
    }),

    // ---- T1/U2: ordered collect within group ------------------------
    "q39_group_collect" -> ((s, dir) => {
      t(s, dir, "embeddings").filter(col("vec_id") < 40)
        .groupBy(col("label"))
        .agg(concat_ws(",",
          sort_array(collect_list(col("vec_id")))).as("ids_csv"),
          count(lit(1)).as("n"))
        .orderBy(col("label"))
    }),

    // ---- A7: value histogram ----------------------------------------
    "q40_histogram" -> ((s, dir) => {
      eventsUs(s, dir)
        .withColumn("bucket", floor(col("value") / 50.0).cast("long"))
        .groupBy(col("event_type"), col("bucket"))
        .agg(count(lit(1)).as("n"),
          sum(dec(col("value"))).cast("double").as("sum_value"))
        .orderBy(col("event_type"), col("bucket"))
    }),

    // ---- X2: HL7 DTM parse via the custom Catalyst expression -------
    // Round-trip: format event times as HL7 strings, parse them back
    // with hl7_ts_us — must equal the second-truncated original.
    "q42_hl7_roundtrip" -> ((s, dir) => {
      graft.functions.Hl7Timestamp.register(s)
      eventsUs(s, dir)
        .withColumn("hl7",
          date_format(timestamp_micros(col("ts_us")), "yyyyMMddHHmmss"))
        .withColumn("parsed_us", expr("hl7_ts_us(hl7)"))
        .filter(col("event_type") === "signup")
        .select(col("event_id"), col("hl7"), col("parsed_us"))
        .orderBy(col("event_id"))
    }),

    // ---- O2 both axes: bitemporal stored-time travel ----------------
    // Fold the event stream in 4 stored-time batches (batch = event_id%4,
    // deliberately interleaved in valid time so every batch is an
    // out-of-order arrival), maintaining the bitemporal table
    // incrementally. Output: the full valid-time history as the database
    // knew it at each stored cutoff — reconstructed purely from the
    // stored axis of the table. The oracle replays each cutoff's message
    // subset from scratch; a mismatch means stored-time history was
    // rewritten (ref: informdb/AuditCore.java:32-35, 83-86).
    "q43_bitemporal_travel" -> ((s, dir) => {
      val msgs = eventsUs(s, dir)
        .select(col("user_id"), col("ts_us"), col("event_id"),
          col("event_type").as("state"), col("value"),
          (pmod(col("event_id"), lit(4)) + 1).cast("long").as("stored_us"))
      val keyCols = Seq("user_id")
      val payload = Seq("state", "value")
      // Materialize between folds: in production each batch's state lands
      // in the sink anyway (StarPipeline); chaining 4 lazy folds would
      // double the plan per level and stall Catalyst.
      val st = (1L to 4L).foldLeft(BitemporalKernel.emptyBitemporal(
          msgs, keyCols, "ts_us", "event_id", payload)) { (acc, b) =>
        val next = BitemporalKernel.applyBitemporal(acc,
          msgs.filter(col("stored_us") === b),
          keyCols, "ts_us", "event_id", "stored_us", payload)
        BitemporalKernel.BitemporalState(
          next.messages.localCheckpoint(),
          next.table.localCheckpoint())
      }
      val beliefs = (1L to 4L).map { cutoff =>
        st.table
          .filter(storedAsOf(lit(cutoff), col("stored_from_us"),
            col("stored_until_us")))
          .select(lit(cutoff).as("cutoff"), col("user_id"), col("event_id"),
            col("state"), col("value"), col("ts_us").as("valid_from_us"),
            col("valid_until_us"))
      }.reduce(_ unionByName _)
      beliefs.orderBy(col("cutoff"), col("user_id"), col("valid_from_us"),
        col("event_id"))
    }),

    // ---- X4: timestamp→date in pinned UTC zone ----------------------
    "q41_daily_activity" -> ((s, dir) => {
      eventsUs(s, dir)
        .withColumn("day",
          date_format(timestamp_micros(col("ts_us")), "yyyy-MM-dd"))
        .groupBy(col("day"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("day"))
    }),

    // ---- S2: HL7 v2 wire parse round-trip ---------------------------
    // Deterministically render each event as a raw ADT wire message
    // (MSH/PID/PV1, DTM from ts_us, trigger from event_id), parse it back
    // with the codegen'd Hl7Wire splitter, and emit the parsed fields.
    // The oracle computes the expected values directly from the event
    // columns — any splitter/routing/DTM bug breaks the match.
    "q44_hl7_wire" -> ((s, dir) => {
      val dtm = date_format(timestamp_micros(
        expr("ts_us div 1000000") * 1000000L), "yyyyMMddHHmmss")
      val eid = col("event_id").cast("string")
      val uid = col("user_id").cast("string")
      val raw = concat_ws("\r",
        concat(lit("MSH|^~\\&|GEN|FAC|||"), dtm, lit("||ADT^A0"),
          (pmod(col("event_id"), lit(4)) + 1).cast("string"), lit("|M"),
          eid, lit("|P|2.4")),
        concat(lit("PID|1||"), uid,
          lit("^^^MRN^MRN~9"), uid, lit("^^^NHS^NHSNMBR||Family^Given")),
        concat(lit("PV1|1|I|WARD^R"), pmod(col("user_id"), lit(10)).cast("string"),
          lit("^B1"), lit("|" * 16), lit("V"), eid))
      graft.sources.Hl7Wire.parseAdt(
          eventsUs(s, dir).withColumn("raw", raw), "raw")
        .select(
          regexp_extract(col("sourceMessageId"), "^M(\\d+)$", 1)
            .cast("long").as("event_id"),
          col("msgType").as("msg_type"), col("trigger"),
          col("recordedDateTimeUs").as("recorded_us"),
          col("mrn"), col("nhsNumber").as("nhs_number"),
          col("visitNumber").as("visit_number"),
          col("patientClass").as("patient_class"),
          col("patientGivenName").as("given_name"),
          col("patientFamilyName").as("family_name"),
          col("fullLocationString").as("location"))
        .orderBy(col("event_id"))
    }),

    // ---- language ID (lexicon-hit argmax, oracle-replayable) --------
    "q45_lang_id" -> ((s, dir) => {
      TextAnalysis.withLangId(t(s, dir, "documents"), "text")
        .select(col("doc_id"), col("lang_guess"))
        .orderBy(col("doc_id"))
    }),

    // ---- J9 write-once dim merge: merged channel --------------------
    // current = nation; updates mutate every 5th region FK (must NOT
    // overwrite) and add 25 new keys (must insert).
    "q46_write_once_merge" -> ((s, dir) => {
      val nation = t(s, dir, "nation")
        .select(col("n_nationkey"), col("n_regionkey"))
      val updates = nation.select(col("n_nationkey"),
          when(pmod(col("n_nationkey"), lit(5)) === 0,
            col("n_regionkey") + 1).otherwise(col("n_regionkey"))
            .as("n_regionkey"))
        .unionByName(nation.select(
          (col("n_nationkey") + 100).as("n_nationkey"), col("n_regionkey")))
      EntityUpserts.writeOnceUpsert(nation, updates,
          Seq("n_nationkey"), Seq("n_regionkey"))
        .merged
        .select(col("n_nationkey").cast("long").as("nationkey"),
          col("n_regionkey").cast("long").as("regionkey"))
        .orderBy(col("nationkey"))
    }),

    // ---- J9 write-once dim merge: error channel ---------------------
    "q47_write_once_errors" -> ((s, dir) => {
      val nation = t(s, dir, "nation")
        .select(col("n_nationkey"), col("n_regionkey"))
      val updates = nation.select(col("n_nationkey"),
          when(pmod(col("n_nationkey"), lit(5)) === 0,
            col("n_regionkey") + 1).otherwise(col("n_regionkey"))
            .as("n_regionkey"))
        .unionByName(nation.select(
          (col("n_nationkey") + 100).as("n_nationkey"), col("n_regionkey")))
      EntityUpserts.writeOnceUpsert(nation, updates,
          Seq("n_nationkey"), Seq("n_regionkey"))
        .errors
        .select(col("n_nationkey").cast("long").as("nationkey"),
          col("claimed_n_regionkey").cast("long").as("claimed"),
          col("stored_n_regionkey").cast("long").as("stored"),
          col("error"))
        .orderBy(col("nationkey"))
    }),

    // ---- S2: ORU wire round-trip through the OBX exploder -----------
    "q48_hl7_obx" -> ((s, dir) => {
      val e = eventsUs(s, dir).filter(col("event_type") === "signup")
      val dtm = date_format(timestamp_micros(
        expr("ts_us div 1000000") * 1000000L), "yyyyMMddHHmmss")
      val eid = col("event_id").cast("string")
      val hr = (pmod(col("event_id"), lit(120)) + 40).cast("string")
      val spo2 = (pmod(col("event_id"), lit(10)) + 90).cast("string")
      val raw = concat_ws("\r",
        concat(lit("MSH|^~\\&|WP|FAC|||"), dtm, lit("||ORU^R01|M"), eid,
          lit("|P|2.4")),
        concat(lit("PID|1||"), col("user_id").cast("string")),
        concat(lit("OBR|1||O"), eid, lit("^LAB|PANEL^Vitals|||"), dtm),
        concat(lit("OBX|1|NM|HR^HeartRate||"), hr, lit("|bpm|||||F|||"), dtm),
        concat(lit("OBX|2|NM|SPO2^Saturation||"), spo2,
          lit("|%|||||F|||"), dtm))
      graft.sources.Hl7Wire.parseObx(e.withColumn("raw", raw), "raw")
        .select(col("event_id").cast("long").as("event_id"),
          col("obxSetId").cast("long").as("obx_set"),
          col("observationId").as("obs_id"), col("value"),
          col("units"), col("resultStatus").as("status"),
          col("obsTimeUs").as("obs_us"))
        .orderBy(col("event_id"), col("obx_set"))
    }),

    // ---- S3/S4: dead-letter routing of a corrupted wire corpus ------
    // Deterministically corrupt every wire message by event_id mod 6
    // (junk frame / unknown trigger / empty PID-3 / no timestamps), parse,
    // and route through the standard ADT guard chain. The oracle knows
    // which corruption each event got, so it predicts channel + reason
    // without any string work.
    "q49_dead_letter" -> ((s, dir) => {
      val dtm = date_format(timestamp_micros(
        expr("ts_us div 1000000") * 1000000L), "yyyyMMddHHmmss")
      val eid = col("event_id").cast("string")
      val uid = col("user_id").cast("string")
      val m = pmod(col("event_id"), lit(6))
      val rawOk = concat_ws("\r",
        concat(lit("MSH|^~\\&|GEN|FAC|||"),
          when(m === 3, lit("")).otherwise(dtm),
          lit("||ADT^"), when(m === 1, lit("A99")).otherwise(lit("A01")),
          lit("|M"), eid, lit("|P|2.4")),
        concat(lit("PID|1||"),
          when(m === 2, lit("")).otherwise(concat(uid, lit("^^^MRN^MRN")))),
        lit("PV1|1|I|WARD^R1^B1"))
      val raw = when(m === 0, concat(lit("JUNK|frame|M"), eid))
        .otherwise(rawOk)
      val parsed = graft.sources.Hl7Wire.parseAdt(
        eventsUs(s, dir).withColumn("raw", raw), "raw")
      val routed = graft.streaming.DeadLetter.route(
        parsed, graft.streaming.DeadLetter.adtRules)
      routed.dead
        .select(col("event_id").cast("long").as("event_id"),
          lit("dead").as("channel"), col("reason"))
        .unionByName(routed.clean
          .select(col("event_id").cast("long").as("event_id"),
            lit("clean").as("channel"),
            lit(null).cast("string").as("reason")))
        .orderBy(col("event_id"))
    }),

    // ---- S2/O16: nested lab-builder round-trip ----------------------
    // Render two-order ORU^R01 messages (values derived from event
    // columns), build the nested order→results shape positionally, then
    // flatten. The oracle predicts every nested field per (event, order,
    // result) without touching the wire text.
    "q50_hl7_lab_nested" -> ((s, dir) => {
      val e = eventsUs(s, dir).filter(col("event_type") === "signup")
      val dtm = date_format(timestamp_micros(
        expr("ts_us div 1000000") * 1000000L), "yyyyMMddHHmmss")
      val eid = col("event_id").cast("string")
      val h1 = (pmod(col("event_id"), lit(50)) + 100).cast("string")
      val h2 = (pmod(col("event_id"), lit(20)) + 4).cast("string")
      val h3 = (pmod(col("event_id"), lit(15)) + 130).cast("string")
      val raw = concat_ws("\r",
        concat(lit("MSH|^~\\&|WP|FAC|||"), dtm, lit("||ORU^R01|M"), eid,
          lit("|P|2.4")),
        concat(lit("PID|1||"), col("user_id").cast("string")),
        concat(lit("OBR|1||O"), eid,
          lit("A^LAB|FBC^Full Blood Count^WinPath|||"), dtm),
        concat(lit("OBX|1|NM|HGB^Hemoglobin||"), h1, lit("|g/dL|||||F")),
        concat(lit("OBX|2|NM|WCC^White Cells||"), h2, lit("|x10e9/L|||||F")),
        concat(lit("OBR|2||O"), eid, lit("B^LAB|UE^Urea^WinPath|||"), dtm),
        concat(lit("OBX|1|NM|NA^Sodium||"), h3, lit("|mmol/L|||||F")))
      graft.sources.Hl7Wire.parseLabOrders(
          e.withColumn("raw", raw), "raw")
        .select(col("event_id").cast("long").as("event_id"),
          col("orderIdx").cast("long").as("order_idx"),
          col("fillerOrderNumber").as("filler_order"),
          col("testId").as("test_id"),
          col("codingSystem").as("coding_system"),
          explode(col("results")).as("r"))
        .select(col("event_id"), col("order_idx"), col("filler_order"),
          col("test_id"), col("coding_system"),
          col("r.setId").cast("long").as("set_id"),
          col("r.observationId").as("obs_id"), col("r.value"),
          col("r.units"))
        .orderBy(col("event_id"), col("order_idx"), col("set_id"))
    }),

    // ---- S2/O17: PPR problem-list wire round-trip -------------------
    "q51_hl7_problems" -> ((s, dir) => {
      val dtm = date_format(timestamp_micros(
        expr("ts_us div 1000000") * 1000000L), "yyyyMMddHHmmss")
      val eid = col("event_id").cast("string")
      val action = element_at(array(lit("AD"), lit("UP"), lit("DE")),
        (pmod(col("event_id"), lit(3)) + 1).cast("int"))
      val status = when(pmod(col("event_id"), lit(2)) === 0, "ACTIVE")
        .otherwise("RESOLVED")
      val raw = concat_ws("\r",
        concat(lit("MSH|^~\\&|EPIC|Problem List|||"), dtm,
          lit("|OP1|PPR^PC1|P"), eid, lit("|P|2.4")),
        concat(lit("PID|1||"), col("user_id").cast("string"),
          lit("^^^MRN^MRN")),
        concat(lit("PRB|"), action, lit("|"), dtm, lit("|C"),
          (pmod(col("event_id"), lit(100))).cast("string"),
          lit("^Condition^I10UK|"), eid, lit("|||"), dtm,
          lit("||||||"), status))
      graft.sources.Hl7Wire.parseProblems(
          eventsUs(s, dir).withColumn("raw", raw), "raw")
        .select(col("event_id").cast("long").as("event_id"),
          col("mrn"), col("action"),
          col("conditionCode").as("condition_code"),
          col("codingSystem").as("coding_system"),
          col("epicProblemId").as("problem_id"), col("status"),
          col("updatedTimeUs").as("updated_us"),
          col("addedTimeUs").as("added_us"))
        .orderBy(col("event_id"))
    }),

    // ---- S2/O20: ORM consult wire round-trip ------------------------
    "q52_hl7_consults" -> ((s, dir) => {
      val dtm = date_format(timestamp_micros(
        expr("ts_us div 1000000") * 1000000L), "yyyyMMddHHmmss")
      val eid = col("event_id").cast("string")
      val m3 = pmod(col("event_id"), lit(3))
      val orc1 = when(m3 === 0, "NW").otherwise("OC")
      val security = when(m3 === 2, "DISCHAUTO").otherwise("OP1")
      val raw = concat_ws("\r",
        concat(lit("MSH|^~\\&|EPIC|Consult Orders|||"), dtm, lit("|"),
          security, lit("|ORM^O01|K"), eid, lit("|P|2.4")),
        concat(lit("PID|1||"), col("user_id").cast("string"),
          lit("^^^MRN^MRN")),
        concat(lit("ORC|"), orc1, lit("|"), eid, lit("^EPC|||||||"), dtm),
        concat(lit("OBR|1|"), eid, lit("^EPC||^^^^IP CON"),
          lit("|" * 32), dtm, lit("|" * 8), lit("CON"),
          pmod(col("event_id"), lit(50)).cast("string")),
        lit("NTE|1||Reason?->testing"))
      graft.sources.Hl7Wire.parseConsults(
          eventsUs(s, dir).withColumn("raw", raw), "raw")
        .select(col("event_id").cast("long").as("event_id"),
          col("mrn"), col("epicConsultId").as("consult_id"),
          col("consultationType").as("consultation_type"),
          col("cancelled").cast("int").cast("long").as("cancelled"),
          col("closedDueToDischarge").cast("int").cast("long")
            .as("closed_discharge"),
          col("statusChangeTimeUs").as("status_change_us"),
          col("scheduledTimeUs").as("scheduled_us"))
        .orderBy(col("event_id"))
    }),

    // ---- S2/O14: ORU^R01 Vitals flowsheet wire round-trip -----------
    // Typed value dispatch (NM/ST/DT by event_id mod 3) plus the
    // empty-value tombstone channel (mod 7): the oracle predicts value
    // type, exactly one populated value column, and DELETE status.
    "q53_hl7_flowsheet" -> ((s, dir) => {
      val dtm = date_format(timestamp_micros(
        expr("ts_us div 1000000") * 1000000L), "yyyyMMddHHmmss")
      val eid = col("event_id").cast("string")
      val m3 = pmod(col("event_id"), lit(3))
      val m7 = pmod(col("event_id"), lit(7))
      val typ = when(m3 === 0, "NM").when(m3 === 1, "ST").otherwise("DT")
      val v = when(m7 === 0, lit(""))
        .when(m3 === 0, (pmod(col("event_id"), lit(120)) + 40).cast("string"))
        .when(m3 === 1,
          concat(lit("pos"), pmod(col("event_id"), lit(10)).cast("string")))
        .otherwise(date_format(timestamp_micros(
          expr("ts_us div 1000000") * 1000000L), "yyyyMMdd"))
      val raw = concat_ws("\r",
        concat(lit("MSH|^~\\&|CAREVUE|Vitals|||"), dtm, lit("||ORU^R01|F"),
          eid, lit("|P|2.4")),
        concat(lit("PID|1||"), col("user_id").cast("string")),
        concat(lit("PV1|1|I|T03"), lit("|" * 16), lit("V"), eid),
        concat(lit("OBX|1|"), typ, lit("|ID"),
          pmod(col("event_id"), lit(9)).cast("string"), lit("^Obs||"), v,
          lit("|u|||||F|||"), dtm))
      graft.sources.Hl7Wire.parseFlowsheets(
          eventsUs(s, dir).withColumn("raw", raw), "raw")
        .select(col("event_id").cast("long").as("event_id"),
          col("sourceMessageId").as("msg_id"), col("mrn"),
          col("visitNumber").as("visit_number"),
          col("interfaceId").as("interface_id"),
          col("valueType").as("value_type"),
          col("numericValue").as("numeric_value"),
          col("stringValue").as("string_value"),
          col("dateValue").as("date_value"),
          col("status"),
          col("observationTimeUs").as("obs_us"))
        .orderBy(col("event_id"))
    }),

    // ---- incremental corpus dedup: batch-folded = from-scratch ------
    // Fold the document corpus in two batches (even ids first, then
    // odd) through the persisted-signature incremental MinHash path.
    // The oracle replays ONE full-corpus LSH pass: the union of the two
    // folds' pairs must equal it exactly — the determinism that lets a
    // 100 TB pipeline dedup each ingest increment without rescanning.
    "q54_incremental_dedup" -> ((s, dir) => {
      val all = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val b0 = all.filter(pmod(col("doc_id"), lit(2)) === 0)
      val b1 = all.filter(pmod(col("doc_id"), lit(2)) === 1)
      val s0 = Dedup.emptyMinhashState(all, "doc_id", "text",
        shingleN = 2, numPerm = 64, bands = 8, portable = true)
      val (p0, st1r) = Dedup.incrementalMinhash(s0, b0, "doc_id", "text",
        shingleN = 2, numPerm = 64, bands = 8, estThreshold = 0.125,
        portable = true)
      val st1 = Dedup.MinhashState(st1r.signatures.localCheckpoint(),
        st1r.buckets.localCheckpoint())
      val (p1, _) = Dedup.incrementalMinhash(st1, b1, "doc_id", "text",
        shingleN = 2, numPerm = 64, bands = 8, estThreshold = 0.125,
        portable = true)
      // n/64 is exactly representable — bit-equal in both engines (q21)
      p0.unionByName(p1)
        .orderBy(col("est_jaccard").desc, col("doc_a"), col("doc_b"))
        .limit(500)
    }),

    // ---- multimodal: REAL decode seam + frame-sampling plan ---------
    // Unlike q32 (metadata arithmetic), this runs the actual batched
    // mapPartitions decode (FakeCodec stands in for ffmpeg — see
    // Multimodal scaladoc) and then plans every 7th frame of each video.
    // The oracle predicts the whole plan from the payload length alone.
    "q55_frame_sample" -> ((s, dir) => {
      import s.implicits._
      val media = t(s, dir, "documents")
        .withColumn("payload", encode(col("text"), "UTF-8"))
        .withColumn("modality",
          when(col("doc_id") % 3 === 0, "image")
            .when(col("doc_id") % 3 === 1, "audio").otherwise("video"))
        .select(col("doc_id").as("media_id"), col("modality"),
          col("payload"), lit("application/octet-stream").as("mime"))
        .as[Multimodal.MediaRow]
      val feats = Multimodal
        .decodeFeatures(media, Multimodal.FakeCodec, parallelism = Some(8))
        .toDF()
      Multimodal.sampleFrames(
          feats.filter(col("modality") === "video"), stride = 7)
        .select(col("media_id").cast("long").as("media_id"),
          col("frame_idx").cast("long").as("frame_idx"))
        .orderBy(col("media_id"), col("frame_idx"))
    }),

    // ---- multimodal: REAL codec — PNG encode→decode round-trip ------
    // Deterministic solid-gray PNGs generated per event (dimensions and
    // gray level are pure functions of event_id), decoded back through
    // the REAL javax.imageio codec on the same mapPartitions seam as
    // q55. The oracle predicts the decoded pixel dimensions and the
    // dominant luminance-histogram bin from event_id alone — if the
    // codec didn't truly parse the PNG bytes, nothing would line up.
    "q83_imageio_decode" -> ((s, dir) => {
      import s.implicits._
      val media = eventsUs(s, dir)
        .filter(pmod(col("event_id"), lit(50)) === 0)
        .select(col("event_id").cast("long").as("media_id"),
          (lit(8) + pmod(col("event_id"), lit(32))).cast("int").as("w"),
          (lit(8) + pmod(col("event_id"), lit(7))).cast("int").as("h"),
          pmod(col("event_id"), lit(256)).cast("int").as("g"))
        .as[(Long, Int, Int, Int)]
        .map { case (id, w, h, g) => Multimodal.MediaRow(
          id, "image", Multimodal.encodePng(w, h, g), "image/png") }
      Multimodal
        .decodeFeatures(media, Multimodal.ImageIoCodec, parallelism = Some(8))
        .toDF()
        .select(col("media_id"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          (array_position(col("feature"), array_max(col("feature"))) - 1)
            .cast("long").as("top_bin"))
        .orderBy(col("media_id"))
    }),

    // ---- multimodal: REAL audio codec — WAV encode→decode round-trip
    // Deterministic constant-amplitude 16-bit mono PCM WAVs generated
    // per event (rate, sample count and amplitude are pure functions
    // of event_id), decoded back through the REAL javax.sound.sampled
    // codec on the same mapPartitions seam as q83. The oracle predicts
    // the parsed sample rate, frame count and dominant amplitude-
    // histogram bin from event_id alone — header AND frame parsing
    // both have to be right for anything to line up.
    "q123_wav_decode" -> ((s, dir) => {
      import s.implicits._
      val media = eventsUs(s, dir)
        .filter(pmod(col("event_id"), lit(50)) === 1)
        .select(col("event_id").cast("long").as("media_id"),
          (lit(4000) + pmod(col("event_id"), lit(4)) * 2000).cast("int")
            .as("rate"),
          (lit(50) + pmod(col("event_id"), lit(100))).cast("int").as("n"),
          (pmod(col("event_id") * 37, lit(65536)) - 32768).cast("int")
            .as("amp"))
        .as[(Long, Int, Int, Int)]
        .map { case (id, rate, n, amp) => Multimodal.MediaRow(
          id, "audio", Multimodal.encodeWav(rate, Array.fill(n)(amp.toShort)),
          "audio/wav") }
      Multimodal
        .decodeFeatures(media, Multimodal.WavCodec, parallelism = Some(8))
        .toDF()
        .select(col("media_id"),
          col("width").cast("long").as("sample_rate"),
          col("n_frames").cast("long").as("n_samples"),
          (array_position(col("feature"), array_max(col("feature"))) - 1)
            .cast("long").as("top_bin"))
        .orderBy(col("media_id"))
    }),

    // ---- decontamination: shingle overlap vs a benchmark set --------
    // Benchmark stand-in = every 20th document; the remaining docs are
    // "training data" checked for 3-gram membership overlap (GPT-3
    // App. C shape). Broadcast bench hash set; portable poly-hash.
    "q84_decontaminate" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      TextAnalysis.decontaminate(
          d.filter(pmod(col("doc_id"), lit(20)) =!= 0),
          d.filter(pmod(col("doc_id"), lit(20)) === 0),
          "doc_id", "text", "text", shingleN = 3, threshold = 0.05)
        .orderBy(col("doc_id"))
    }),

    // ---- incremental decontamination: persisted benchmark index -----
    // The continuous-ingest shape: the benchmark's hash set is built
    // ONCE to a parquet index, then two training batches fold against
    // it independently. The union of the folds must equal the one-shot
    // q84 run — the oracle IS the one-shot SQL.
    "q91_decontaminate_incr" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val idx = graft.SparkEntry.tmpDir("bench_idx")
      TextAnalysis.buildBenchmarkIndex(
        d.filter(pmod(col("doc_id"), lit(20)) === 0), "text",
        shingleN = 3, indexDir = idx)
      val train = d.filter(pmod(col("doc_id"), lit(20)) =!= 0)
      val fold = (p: Column) => TextAnalysis.decontaminateIncremental(
        s, idx, train.filter(p), "doc_id", "text",
        shingleN = 3, threshold = 0.05)
      fold(pmod(col("doc_id"), lit(2)) === 1)
        .unionByName(fold(pmod(col("doc_id"), lit(2)) === 0))
        .orderBy(col("doc_id"))
    }),

    // ---- stratified sampling: deterministic per-language rates ------
    "q85_stratified_sample" -> ((s, dir) => {
      TextAnalysis.stratifiedSample(t(s, dir, "documents"), "doc_id",
          "lang", rates = Map("en" -> 0.9, "de" -> 0.5, "zh" -> 0.25),
          defaultRate = 0.1)
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy(col("doc_id"))
    }),

    // ---- PII scrub: count + redact emails / IPv4 / phones -----------
    // The corpus has no PII, so each doc gets a deterministic synthetic
    // email+phone+IP suffix (pure functions of doc_id) appended in BOTH
    // engines; the scrub then has real work whose counts and redacted
    // text the oracle replays exactly.
    "q86_pii_scrub" -> ((s, dir) => {
      val salted = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          lit(" user"), col("doc_id").cast("string"), lit("@example.com"),
          lit(" +4420"),
          lpad(pmod(col("doc_id"), lit(100000000)).cast("string"), 8, "0"),
          lit(" 10."), (pmod(col("doc_id"), lit(200)) + 1).cast("string"),
          lit("."), (pmod(col("doc_id") * 7, lit(200)) + 1).cast("string"),
          lit("."), (pmod(col("doc_id") * 13, lit(200)) + 1).cast("string"))
          .as("text"))
      TextAnalysis.piiScrub(salted, "doc_id", "text").orderBy(col("doc_id"))
    }),

    // ---- sequence packing: concat-and-chunk token layout ------------
    "q87_pack_sequences" -> ((s, dir) => {
      TextAnalysis.packSequences(t(s, dir, "documents"), "doc_id",
          "source", "text", chunkTokens = 2048)
        .orderBy(col("stream"), col("doc_id"))
    }),

    // ---- composed prep pipeline v2: the round-7 ops chained ----------
    // decontaminate (drop overlap ≥ 5%) → stratified sample → PII scrub
    // (salted as in q86) → sequence packing on the REDACTED text. One
    // oracle over the whole chain proves the stages compose: offsets
    // downstream shift if any upstream stage keeps/drops/rewrites
    // differently.
    "q89_prep_pipeline2" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val train = d.filter(pmod(col("doc_id"), lit(20)) =!= 0)
      val bench = d.filter(pmod(col("doc_id"), lit(20)) === 0)
      val clean = TextAnalysis.decontaminate(train, bench, "doc_id",
          "text", "text", shingleN = 3, threshold = 0.05)
        .filter(!col("contaminated")).select("doc_id")
      val sampled = TextAnalysis.stratifiedSample(
        train.join(clean, "doc_id"), "doc_id", "lang",
        rates = Map("en" -> 0.9, "de" -> 0.5, "zh" -> 0.25),
        defaultRate = 0.1)
      val salted = sampled.select(col("doc_id"), col("source"),
        concat(col("text"),
          lit(" user"), col("doc_id").cast("string"), lit("@example.com"),
          lit(" +4420"),
          lpad(pmod(col("doc_id"), lit(100000000)).cast("string"), 8, "0"),
          lit(" 10."), (pmod(col("doc_id"), lit(200)) + 1).cast("string"),
          lit("."), (pmod(col("doc_id") * 7, lit(200)) + 1).cast("string"),
          lit("."), (pmod(col("doc_id") * 13, lit(200)) + 1).cast("string"))
          .as("text"))
      val scrubbed = TextAnalysis.piiScrub(salted, "doc_id", "text")
        .join(salted.select("doc_id", "source"), "doc_id")
        .withColumnRenamed("redacted", "text")
      TextAnalysis.packSequences(scrubbed, "doc_id", "source", "text",
          chunkTokens = 2048)
        .orderBy(col("stream"), col("doc_id"))
    }),

    // ---- SemDeDup: within-cluster semantic dedup ---------------------
    // Keep-the-outlier pruning ordered by centroid similarity; exact-
    // integer centroid quantization makes the order engine-portable.
    "q88_semdedup" -> ((s, dir) => {
      Dedup.semDedup(t(s, dir, "embeddings"), "vec_id", "embedding",
          "label", tau = 0.3, maxClusterSize = 2000)
        .orderBy(col("vec_id"))
    }),

    // ---- SemDeDup over TRAINED clusters: the full paper pipeline ----
    // Lloyd's spherical k-means (portable: lowest-id init, rounded-
    // cosine assignment, exact-integer centroid means) → argmax
    // assignment → within-cluster SemDeDup prune. The oracle replays
    // BOTH training iterations and the prune — no externally-supplied
    // cluster structure anywhere.
    "q90_semdedup_trained" -> ((s, dir) => {
      val em = t(s, dir, "embeddings")
      val cents = Ann.ivfTrainPortable(em, "vec_id", "embedding",
        k = 8, iters = 2)
      val assigned = em.withColumn("cluster",
        Ann.cosineCluster(toDoubleVec(col("embedding")), cents)
          .cast("long"))
      Dedup.semDedup(assigned, "vec_id", "embedding", "cluster",
          tau = 0.3)
        .orderBy(col("vec_id"))
    }),

    // ---- duplicate clusters: connected components over LSH pairs ----
    // q21's candidate pairs → min-label connected components; DuckDB
    // replays the clustering with a recursive CTE over the same pairs.
    "q56_dup_clusters" -> ((s, dir) => {
      val pairs = Dedup.minhashLsh(t(s, dir, "documents"), "doc_id", "text",
        shingleN = 2, numPerm = 64, bands = 8,
        estThreshold = 0.125, maxBucketSize = 100, portable = true)
      Dedup.dupClusters(pairs, "doc_a", "doc_b")
        .select(col("doc_id").cast("long").as("doc_id"),
          col("cluster_id").cast("long").as("cluster_id"))
        .orderBy(col("doc_id"))
    }),

    // ---- cluster representatives: keep the best dup, not the first --
    "q112_cluster_representatives" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val pairs = Dedup.minhashLsh(d, "doc_id", "text",
        shingleN = 2, numPerm = 64, bands = 8,
        estThreshold = 0.125, maxBucketSize = 100, portable = true)
      val clusters = Dedup.dupClusters(pairs, "doc_a", "doc_b")
        .select(col("doc_id").cast("long").as("doc_id"),
          col("cluster_id").cast("long").as("cluster_id"))
      val quality = TextAnalysis.stats(d, "doc_id", "text")
        .select(col("doc_id"), col("n_distinct"))
      Dedup.clusterRepresentatives(
          clusters.join(quality, Seq("doc_id")),
          "doc_id", "cluster_id", "n_distinct")
        .orderBy(col("cluster_id"))
    }),

    // ---- text → vector → search, end to end --------------------------
    // Feature-hash the documents into 32-dim signed-count vectors, then
    // brute-force cosine top-3 over them — the text corpus entering the
    // ANN stack with no precomputed embeddings. Zero-norm docs (signs
    // cancelled every bucket) are excluded from both sides.
    "q121_hash_embed_search" -> ((s, dir) => {
      val emb = operators.Embed.hashEmbed(
          t(s, dir, "documents"), "doc_id", "text", dim = 32)
        .filter(graft.functions.VectorOps.vecDot(col("emb"), col("emb")) > 0)
      Ann.bruteForceTopK(emb.filter(pmod(col("doc_id"), lit(50)) === 0),
          emb, "doc_id", "emb", k = 3)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- skew-salted join: result-identical to the plain join --------
    // orders ⋈ customer salted 8 ways on custkey (the hot-key lever
    // AQE can't always reach); the oracle replays the UNSALTED join —
    // equality IS the correctness claim.
    "q119_salted_join" -> ((s, dir) => {
      operators.SkewJoin.saltedJoin(
          t(s, dir, "orders"),
          t(s, dir, "customer")
            .withColumnRenamed("c_custkey", "o_custkey"),
          "o_custkey", saltBy = col("o_orderkey"), salts = 8)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          sum(dec(col("o_totalprice"))).cast("double").as("revenue"))
        .orderBy(col("c_mktsegment"))
    }),

    // ---- exact per-group quantiles (nearest-rank) --------------------
    "q120_group_quantiles" -> ((s, dir) => {
      operators.Profile.groupQuantiles(
          t(s, dir, "documents").select(col("lang"),
            length(col("text")).cast("long").as("len")),
          "lang", "len", q10k = Seq(5000L, 9000L, 9900L))
        .orderBy(col("grp"), col("q10k"))
    }),

    // ---- PERSISTED histogram index: exact quantiles at ingest -------
    // Per-batch (group, value, count) layers — counts add, so the
    // merged histogram is the union's exact frequency table and the
    // nearest-rank quantiles from it equal the one-shot q120 result
    // (verbatim oracle). Repeated quantile queries then read
    // histogram-sized rows, never the fact table.
    "q132_quantiles_incremental" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("lang"),
        length(col("text")).cast("long").as("len"))
      val idx = graft.SparkEntry.tmpDir("hist_idx")
      operators.Profile.histAppend(
        d.filter(pmod(col("doc_id"), lit(2)) === 0), "lang", "len",
        idx, 1L)
      operators.Profile.histAppend(
        d.filter(pmod(col("doc_id"), lit(2)) === 1), "lang", "len",
        idx, 2L)
      operators.Profile.groupQuantilesFromIndex(s, idx,
          q10k = Seq(5000L, 9000L, 9900L))
        .orderBy(col("grp"), col("q10k"))
    }),

    // ---- table profiling: per-column stats + KMV distinct -----------
    "q118_profile" -> ((s, dir) => {
      operators.Profile.profile(t(s, dir, "documents"),
          Seq("doc_id", "lang", "source"), kmvK = 64)
        .orderBy(col("column"))
    }),

    // ---- PERSISTED profile index: ANALYZE under continuous ingest ---
    // Two batch folds of per-column stats + KMV minima layers; the
    // merged profile equals the one-shot q118 result (verbatim
    // oracle) by the component merge laws (counts add, min/max
    // compose, minima min-union).
    "q128_profile_incremental" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val idx = graft.SparkEntry.tmpDir("profile_idx")
      operators.Profile.profileAppend(
        d.filter(pmod(col("doc_id"), lit(2)) === 0),
        Seq("doc_id", "lang", "source"), kmvK = 64, idx, 1L)
      operators.Profile.profileAppend(
        d.filter(pmod(col("doc_id"), lit(2)) === 1),
        Seq("doc_id", "lang", "source"), kmvK = 64, idx, 2L)
      operators.Profile.profileFromIndex(s, idx, kmvK = 64)
        .orderBy(col("column"))
    }),

    // ---- PERSISTED unigram-LM index + incremental scoring -----------
    // Model counts folded in two batches (additive), then the corpus
    // scored in two batches against the merged index — union equals
    // the one-shot self-trained q94 run (verbatim oracle): the CCNet
    // frozen-reference-model read path, proven on the self-corpus
    // where the one-shot ground truth exists.
    "q129_lm_incremental" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val idx = graft.SparkEntry.tmpDir("lm_idx")
      TextAnalysis.lmIndexAppend(
        d.filter(pmod(col("doc_id"), lit(2)) === 0), "text", idx, 1L)
      TextAnalysis.lmIndexAppend(
        d.filter(pmod(col("doc_id"), lit(2)) === 1), "text", idx, 2L)
      TextAnalysis.lmScoreIncremental(s, idx,
          d.filter(pmod(col("doc_id"), lit(3)) === 0), "doc_id", "text",
          headMin = 0.0334, midMin = 0.0333)
        .unionByName(TextAnalysis.lmScoreIncremental(s, idx,
          d.filter(pmod(col("doc_id"), lit(3)) =!= 0), "doc_id", "text",
          headMin = 0.0334, midMin = 0.0333))
        .orderBy(col("doc_id"))
    }),

    // ---- deterministic train/val/test split -------------------------
    "q113_split_assign" -> ((s, dir) => {
      TextAnalysis.assignSplit(t(s, dir, "documents"), "doc_id",
          Seq("train" -> 8000L, "val" -> 1000L, "test" -> 1000L))
        .select(col("doc_id"), col("lang"), col("split"))
        .orderBy(col("doc_id"))
    }),

    // ---- CCNet bucket resampling: quality-tiered keep rates ---------
    // The step CCNet actually ships: score with the corpus-trained LM,
    // bucket head/middle/tail, then keep each bucket at its own rate
    // (head kept whole, tail decimated) via the deterministic
    // stratified sampler. Two existing operators composed under one
    // oracle.
    "q114_ccnet_resample" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val lm = TextAnalysis.lmQualityScore(d, "doc_id", "text",
        headMin = 0.0334, midMin = 0.0333)
      TextAnalysis.stratifiedSample(
          d.join(lm.select(col("doc_id"), col("lm_bucket")), Seq("doc_id")),
          "doc_id", "lm_bucket",
          rates = Map("head" -> 1.0, "middle" -> 0.5, "tail" -> 0.05))
        .select(col("doc_id"), col("lang"), col("lm_bucket"))
        .orderBy(col("doc_id"))
    }),

    // ---- S2 funnel: coding-system routing round-trip ----------------
    // Render each order as a wire message whose identifying markers
    // (MSH-3/MSH-4/OBR-3.2/OBR-4.3/OBR-4.4) rotate by o_orderkey%7; the
    // oracle predicts the decision table's output per case.
    "q57_wire_funnel" -> ((s, dir) => {
      val k = col("o_orderkey").cast("string")
      val m7 = pmod(col("o_orderkey"), lit(7))
      val msh3 = when(m7 === 2, "BIO-CONNECT")
        .when(m7 === 3, "ABL90 FLEX Plus")
        .when(m7 === 4, "IMG_RESULT").otherwise("EPIC")
      val msh4 = when(m7 === 5, "Vitals").otherwise("UCLH")
      val obr3 = when(m7 === 1, "F1^CoPathPlus").otherwise("F1^LAB")
      val obr4 = when(m7 === 0, "FBC^FBC^WinPath")
        .when(m7 === 6, "PROF1^Profile^^Profiles").otherwise("X^Y")
      val typ = when(m7 === 3, "ORU^R30").otherwise("ORU^R01")
      val raw = concat_ws("\r",
        concat(lit("MSH|^~\\&|"), msh3, lit("|"), msh4, lit("|||20240501120000||"),
          typ, lit("|W"), k, lit("|P|2.4")),
        concat(lit("OBR|1|P1|"), obr3, lit("|"), obr4,
          lit("|||20240501100000")))
      t(s, dir, "orders").withColumn("raw", raw)
        .select(col("o_orderkey").cast("long").as("order_key"),
          graft.sources.LabFunnel.codingSystem(col("raw"))
            .as("coding_system"))
        .orderBy(col("order_key"))
    }),

    // ---- S2/O16 WinPath wire: isolate merge + sensitivity re-parent --
    // Two orders per message: a culture whose ISOLATE appears as a CE
    // code OBX plus an ST quantity OBX sharing a sub-id (merged on
    // parse), and a sensitivity child order pointing back via OBR-26
    // (re-parented onto the isolate). The oracle predicts the flattened
    // parent order straight from the source columns.
    "q58_winpath_wire" -> ((s, dir) => {
      import graft.sources.LabFunnel
      val k = col("o_orderkey").cast("string")
      val c50 = pmod(col("o_custkey"), lit(50)).cast("string")
      val spec10 = concat(lpad(k, 9, "0"), lit("7")) // 9 digits + type char
      val quantity = concat(lit("Q"), pmod(col("o_orderkey"), lit(9)).cast("string"))
      val agent = concat(lit("AG"), pmod(col("o_orderkey"), lit(5)).cast("string"))
      val sv = when(pmod(col("o_orderkey"), lit(2)) === 0, "S").otherwise("R")
      val wcc = (pmod(col("o_orderkey"), lit(120)) + 40).cast("string")
      val raw = concat_ws("\r",
        concat(lit("MSH|^~\\&|WinPath|UCLH|||20240501120000||ORU^R01|W"),
          k, lit("|P|2.4")),
        concat(lit("PID|1||M"), col("o_custkey").cast("string"),
          lit("^^^MRN^MRN")),
        concat(lit("ORC|RE|EP"), k, lit("|"), spec10, lit("||CM")),
        concat(lit("OBR|1|EP"), k, lit("|"), spec10,
          lit("|MCU^CULTURE^WinPath|||20240501100000"), lit("|" * 15),
          lit("20240501113000||HAEM|F")),
        concat(lit("OBX|1|CE|ISOLATE^Isolate^WinPath|1|ISO"), c50,
          lit("^Bug "), c50, lit("^WinPath||||||F")),
        concat(lit("OBX|2|ST|ISOLATE^Isolate^WinPath|1|"), quantity,
          lit("||||||F")),
        concat(lit("OBX|3|NM|WCC^WCC^WinPath||"), wcc,
          lit("|10*9/L|||||F")),
        concat(lit("ORC|RE|EP"), k, lit("|"), spec10, lit("||CM")),
        concat(lit("OBR|2|EP"), k, lit("|"), spec10,
          lit("|SENS^Sens^WinPath|||20240501100000"), lit("|" * 6),
          lit("CLIN"), k, lit("|" * 9), lit("20240501113000||HAEM|F|"),
          lit("ISOLATE&Isolate&WinPath^1")),
        concat(lit("OBX|1|ST|"), agent, lit("^Agent^WinPath||"), sv,
          lit("||||||F")))
      val parsed = LabFunnel.parseWinPathResults(
        t(s, dir, "orders").withColumn("raw", raw), "raw")
      val iso = get(filter(col("results"),
        r => r.getField("testCode") === "ISOLATE"), lit(0))
      val wccR = get(filter(col("results"),
        r => r.getField("testCode") === "WCC"), lit(0))
      parsed.select(
          regexp_extract(col("sourceMessageId"), "^W(\\d+)_01$", 1)
            .cast("long").as("order_key"),
          col("epicOrderNumber").as("epic"),
          col("labSpecimenNumber").as("specimen"),
          iso.getField("mimeType").as("mime"),
          iso.getField("isolate").getField("code").as("iso_code"),
          iso.getField("isolate").getField("name").as("iso_name"),
          iso.getField("isolate").getField("quantity").as("quantity"),
          iso.getField("isolate").getField("clinicalInfo").as("clin_info"),
          size(iso.getField("isolate").getField("sensitivities"))
            .cast("long").as("sens_n"),
          get(iso.getField("isolate").getField("sensitivities"), lit(0))
            .getField("testCode").as("sens_agent"),
          get(iso.getField("isolate").getField("sensitivities"), lit(0))
            .getField("stringValue").as("sens_value"),
          wccR.getField("numericValue").as("wcc"))
        .orderBy(col("order_key"))
    }),

    // ---- S2 CoPath wire: text report + base64 PDF byte round-trip ---
    // The ED payload is the document's own (sanitised) text, base64'd at
    // render and decoded back to bytes at parse; the oracle predicts the
    // decoded string straight from the text column.
    "q59_copath_pdf" -> ((s, dir) => {
      import graft.sources.LabFunnel
      val id = col("doc_id").cast("string")
      val payload = concat(lit("DOC "), id, lit(" "),
        substring(regexp_replace(col("text"), "[^A-Za-z0-9 ]", ""), 1, 40))
      val b64 = regexp_replace(base64(encode(payload, "UTF-8")), "[\\r\\n]", "")
      val raw = concat_ws("\r",
        concat(lit("MSH|^~\\&|Bridges|UCLH|||20240501120000||ORU^R01|CP"),
          id, lit("|P|2.4")),
        concat(lit("ORC|RE|UH"), id, lit("|UH"), id, lit("||CM")),
        concat(lit("OBR|1|UH"), id, lit("|UH"), id,
          lit("|H^Histology^CPEAP|||20240501100000"), lit("|" * 15),
          lit("20240501113000||CP|F")),
        concat(lit("OBX|1|TX|UH"), id, lit("^^CPEAP||Report "), id,
          lit("||||||F")),
        concat(lit("OBX|2|ED|UH"), id, lit("^^CPEAP||"),
          lit("Content-Type: text/plain; charset=US-ASCII; name=r.pdf; "),
          lit("Content-transfer-encoding: base64"), b64, lit("||||||F")))
      val parsed = LabFunnel.parseCoPath(
        t(s, dir, "documents").withColumn("raw", raw), "raw")
      val tx = get(filter(col("coPathResults"),
        r => r.getField("valueType") === "TX"), lit(0))
      val ed = get(filter(col("coPathResults"),
        r => r.getField("valueType") === "ED"), lit(0))
      parsed.select(
          regexp_extract(col("sourceMessageId"), "^CP(\\d+)_01$", 1)
            .cast("long").as("doc_id"),
          col("battery"), // Epic H→UH remap
          tx.getField("stringValue").as("report"),
          ed.getField("mimeType").as("mime"),
          decode(ed.getField("byteValue"), "UTF-8").as("decoded"))
        .orderBy(col("doc_id"))
    }),

    // ---- S2 ABL90 wire: point-of-care numerics with result operators --
    "q60_abl90_wire" -> ((s, dir) => {
      import graft.sources.LabFunnel
      val k = col("o_orderkey").cast("string")
      val m3 = pmod(col("o_orderkey"), lit(3))
      val num = (pmod(col("o_orderkey"), lit(90)) + 10).cast("string")
      val v = when(m3 === 0, concat(lit("<"), num))
        .when(m3 === 1, concat(lit(">"), num)).otherwise(num)
      val raw = concat_ws("\r",
        concat(lit("MSH|^~\\&|ABL90 FLEX Plus|UCLH|||20240501120000||ORU^R30|A"),
          k, lit("|P|2.4")),
        concat(lit("PID|1||M"), col("o_custkey").cast("string"),
          lit("^^^MRN^MRN")),
        concat(lit("OBR|1|PL"), k, lit("^A|FIL"), k,
          lit("^B|VBG^Gas|||20240501115500"), lit("|" * 7),
          lit("20240501115800|Venous blood&Blood venous")),
        concat(lit("OBX|1|NM|pH^pH^ABL|1|"), v,
          lit("|kPa^kPa||N|||F|||20240501115900")))
      LabFunnel.parseAbl90(
          t(s, dir, "orders").withColumn("raw", raw), "raw")
        .select(
          regexp_extract(col("sourceMessageId"), "^A(\\d+)$", 1)
            .cast("long").as("order_key"),
          col("labSpecimenNumber").as("specimen"),
          col("specimenType").as("specimen_type"),
          col("sampleReceivedTimeUs").as("received_us"),
          get(col("results"), lit(0)).getField("numericValue").as("value"),
          get(col("results"), lit(0)).getField("resultOperator").as("op"),
          get(col("results"), lit(0)).getField("stringValue").as("raw_value"),
          get(col("results"), lit(0)).getField("units").as("units"))
        .orderBy(col("order_key"))
    }),

    // ---- S2: FULL AdtMessageFactory trigger matrix round-trip -------
    // One wire message per event cycling through all 19 implemented ADT
    // triggers, each carrying MRG previous identifiers, a PV1-42 pending
    // destination, and a second PID/PV1 group — so every trigger-specific
    // extraction path (merge/move/change-ids, pending, swap) is exercised
    // and hash-checked against the oracle's direct recomputation.
    "q61_adt_matrix" -> ((s, dir) => {
      val trigs = Seq("A01", "A02", "A03", "A04", "A06", "A07", "A08",
        "A11", "A12", "A13", "A15", "A17", "A26", "A28", "A29", "A31",
        "A40", "A45", "A47")
      val trig = element_at(array(trigs.map(lit): _*),
        (pmod(col("event_id"), lit(trigs.size)) + 1).cast("int"))
      val dtm = date_format(timestamp_micros(
        expr("ts_us div 1000000") * 1000000L), "yyyyMMddHHmmss")
      val eid = col("event_id").cast("string")
      val uid = col("user_id").cast("string")
      val raw = concat_ws("\r",
        concat(lit("MSH|^~\\&|EPIC|UCLH|||"), dtm, lit("||ADT^"), trig,
          lit("|T"), eid, lit("|P|2.4")),
        concat(lit("EVN|"), trig, lit("|"), dtm, lit("||ADMIT")),
        concat(lit("PID|1||"), uid, lit("^^^MRN^MRN")),
        concat(lit("PV1|1|I|LOC^"), uid, lit("|" * 16), lit("V"), eid,
          lit("|" * 23), lit("PD"), eid),
        concat(lit("MRG|O"), uid, lit("^^^MRN^MRN~8"), uid,
          lit("^^^NHS^NHSNMBR||||PV"), eid),
        concat(lit("PID|2||X"), uid, lit("^^^MRN^MRN")),
        concat(lit("PV1|2|I|OLOC"), lit("|" * 16), lit("W"), eid))
      graft.sources.Hl7Wire.parseAdt(
          eventsUs(s, dir).withColumn("raw", raw), "raw")
        .select(col("event_id").cast("long").as("event_id"),
          col("trigger"), col("msgType").as("msg_type"),
          col("mrn"), col("visitNumber").as("visit_number"),
          col("previousMrn").as("previous_mrn"),
          col("previousNhsNumber").as("previous_nhs"),
          col("previousVisitNumber").as("previous_visit"),
          col("pendingDestination").as("pending_dest"),
          col("otherMrn").as("other_mrn"),
          col("otherVisitNumber").as("other_visit"),
          col("validFromUs").as("valid_from_us"))
        .orderBy(col("event_id"))
    }),

    // ---- S2: A05 ZIF infections + the serial progress gate ----------
    // Added datetimes are deliberately scrambled (−(id%7)h) so the gate
    // rejects real rows; the oracle replays the reference's serial fold
    // as the same running-max window.
    "q62_infection_gate" -> ((s, dir) => {
      val addedSec = expr("ts_us div 1000000") - pmod(col("event_id"), lit(7)) * 3600L
      val addedDtm = date_format(timestamp_micros(addedSec * 1000000L),
        "yyyyMMddHHmmss")
      val dtm = date_format(timestamp_micros(
        expr("ts_us div 1000000") * 1000000L), "yyyyMMddHHmmss")
      val eid = col("event_id").cast("string")
      val raw = concat_ws("\r",
        concat(lit("MSH|^~\\&|EPIC|UCLH|||"), dtm, lit("||ADT^A05|I"),
          eid, lit("|P|2.4")),
        concat(lit("EVN|A05|"), dtm),
        concat(lit("PID|1||"), col("user_id").cast("string"),
          lit("^^^MRN^MRN")),
        concat(lit("ZIF|C"), pmod(col("event_id"), lit(40)).cast("string"),
          lit("^"), addedDtm))
      graft.sources.Hl7Wire.infectionGate(
          graft.sources.Hl7Wire.parseInfections(
            eventsUs(s, dir).withColumn("raw", raw), "raw"),
          serviceStartUs = 0L, orderCols = Seq("event_id"))
        .select(col("event_id").cast("long").as("event_id"),
          col("conditionCode").as("condition_code"),
          col("addedTimeUs").as("added_us"), col("mrn"))
        .orderBy(col("event_id"))
    }),

    // ---- S2: A60 IAM allergy wire round-trip ------------------------
    "q63_allergy_wire" -> ((s, dir) => {
      val dtm = date_format(timestamp_micros(
        expr("ts_us div 1000000") * 1000000L), "yyyyMMddHHmmss")
      val eid = col("event_id").cast("string")
      val action = element_at(array(lit("A"), lit("D"), lit("U"), lit("X")),
        (pmod(col("event_id"), lit(4)) + 1).cast("int"))
      val nReact = (pmod(col("event_id"), lit(3)) + 1).cast("int")
      val reacts = array_join(
        transform(sequence(lit(1), nReact),
          i => concat(lit("R"), i.cast("string"))), "~")
      val onset = date_format(timestamp_micros(
        expr("ts_us div 1000000") * 1000000L), "yyyyMMdd")
      val raw = concat_ws("\r",
        concat(lit("MSH|^~\\&|EPIC|UCLH|||"), dtm, lit("||ADT^A60|G"),
          eid, lit("|P|2.4")),
        concat(lit("EVN|A60|"), dtm),
        concat(lit("PID|1||"), col("user_id").cast("string"),
          lit("^^^MRN^MRN")),
        concat(lit("IAM|1|DA^Drug|"), eid, lit("^ALLERGEN"),
          pmod(col("event_id"), lit(25)).cast("string"),
          lit("^ALG|SV"), pmod(col("event_id"), lit(3)).cast("string"),
          lit("^Severity|"), reacts, lit("|"), action, lit("|"), eid,
          lit("^EPIC||||"), onset, lit("||"), dtm, lit("||||Active")))
      graft.sources.Hl7Wire.parseAllergies(
          eventsUs(s, dir).withColumn("raw", raw), "raw")
        .filter(col("error").isNull)
        .select(col("event_id").cast("long").as("event_id"),
          col("mrn"), col("subType").as("sub_type"),
          col("conditionCode").as("condition_code"),
          col("severity"), col("action"),
          size(col("reactions")).cast("long").as("n_reactions"),
          col("epicConditionId").as("epic_id"),
          col("onsetDate").as("onset_date"),
          col("addedTimeUs").as("added_us"), col("status"))
        .orderBy(col("event_id"))
    }),

    // ---- §3.3 monitoring: hourly ingest rates -----------------------
    "q64_ingest_rates" -> ((s, dir) => {
      graft.streaming.Monitoring.ingestRates(
          eventsUs(s, dir), "ts_us", 3600L, Seq("event_type"))
        .select(col("bucket_us"), col("event_type"),
          col("n_messages"), col("first_us"), col("last_us"))
        .orderBy(col("bucket_us"), col("event_type"))
    }),

    // ---- W6: fold → compact → fold equals the two-batch replay ------
    // Evens fold first; the state compacts at Jan 15 (closed versions
    // move to the cold archive); post-horizon odds fold on the hot tail
    // only. readFull must equal the oracle's replay of the SAME batching
    // (F6 run-coalescing is arrival-order-dependent by design, so the
    // oracle coalesces evens first, then re-coalesces with the odds).
    "q65_compacted_fold" -> ((s, dir) => {
      import graft.streaming.StarPipeline
      val root = graft.SparkEntry.tmpDir("q65_state")
      val horizonUs = 1705276800000000L // 2024-01-15T00:00:00Z
      val cfg = StarPipeline.Config(root, Seq("user_id"), "ts_us",
        "event_id", Seq("event_type", "value"), nBuckets = 16)
      val e = eventsUs(s, dir).select(col("user_id"), col("ts_us"),
        col("event_id"), col("event_type"), col("value"))
      StarPipeline.foldBatch(
        e.filter(pmod(col("event_id"), lit(2)) === 0), 1L, cfg)
      StarPipeline.compact(s, cfg, horizonUs, 2L)
      StarPipeline.foldBatch(
        e.filter(pmod(col("event_id"), lit(2)) === 1 &&
          col("ts_us") >= horizonUs), 3L, cfg)
      StarPipeline.readFull(s, cfg, "history").get
        .select(col("user_id"), col("event_id").cast("long").as("event_id"),
          col("event_type"), col("value"),
          col("ts_us").as("valid_from_us"))
        .orderBy(col("user_id"), col("valid_from_us"), col("event_id"))
    }),

    // ---- S2: full PID/PV2 demographics round-trip -------------------
    "q66_demographics_wire" -> ((s, dir) => {
      val dtm = date_format(timestamp_micros(
        expr("ts_us div 1000000") * 1000000L), "yyyyMMddHHmmss")
      val eid = col("event_id").cast("string")
      val uid = col("user_id").cast("string")
      val classes = Seq("I", "O", "E", "N", "B", "P", "DAY CASE",
        "SURG ADMIT")
      val cls = element_at(array(classes.map(lit): _*),
        (pmod(col("event_id"), lit(classes.size)) + 1).cast("int"))
      val deathInd = element_at(array(lit("Y"), lit("N"), lit("")),
        (pmod(col("event_id"), lit(3)) + 1).cast("int"))
      val pid = concat(
        lit("PID|1||"), uid, lit("^^^MRN^MRN||FAM"), uid,
        lit("^Giv^Mid^^Ttl|||"),
        when(pmod(col("event_id"), lit(2)) === 0, "F").otherwise("M"),
        lit("|||Street^^City^^ZIP"), pmod(col("user_id"), lit(100)),
        lit("||||||REL"), pmod(col("user_id"), lit(5)),
        lit("|||||E"), pmod(col("user_id"), lit(10)),
        lit("|||||||"), dtm, lit("|"), deathInd)
      val raw = concat_ws("\r",
        concat(lit("MSH|^~\\&|EPIC|UCLH|||"), dtm, lit("||ADT^A08|D"),
          eid, lit("|P|2.4")),
        pid,
        concat(lit("PV1|1|"), cls, lit("|W^R^B|||PREV^O^L")),
        concat(lit("PV2"), lit("|" * 38), lit("MODE"),
          pmod(col("event_id"), lit(4))))
      graft.sources.Hl7Wire.parseAdt(
          eventsUs(s, dir).withColumn("raw", raw), "raw")
        .select(col("event_id").cast("long").as("event_id"),
          col("patientMiddleName").as("middle_name"),
          col("patientTitle").as("title"),
          col("patientSex").as("sex"),
          col("patientZipOrPostalCode").as("postal"),
          col("patientReligion").as("religion"),
          col("ethnicGroupCode").as("ethnic_code"),
          col("patientIsAlive").cast("long").as("is_alive"),
          col("patientDeathDateTimeUs").as("death_us"),
          col("modeOfArrival").as("mode_arrival"),
          col("previousLocation").as("previous_location"),
          col("patientClassName").as("class_name"))
        .orderBy(col("event_id"))
    }),

    // ---- S2: PPR NTE comments (positional, space-joined) ------------
    "q67_problem_comments" -> ((s, dir) => {
      val dtm = date_format(timestamp_micros(
        expr("ts_us div 1000000") * 1000000L), "yyyyMMddHHmmss")
      val eid = col("event_id").cast("string")
      val withNotes = pmod(col("event_id"), lit(3)) =!= 0
      val raw = concat_ws("\r",
        concat(lit("MSH|^~\\&|EPIC|Problem List|||"), dtm,
          lit("|OP1|PPR^PC1|N"), eid, lit("|P|2.4")),
        concat(lit("PID|1||"), col("user_id").cast("string"),
          lit("^^^MRN^MRN")),
        concat(lit("PRB|AD|"), dtm, lit("|C"),
          pmod(col("event_id"), lit(100)).cast("string"),
          lit("^Condition^I10UK|"), eid),
        when(withNotes, concat(lit("NTE|1||note"), eid, lit("~extra"),
          eid, lit("\rNTE|2||tail"))))
      graft.sources.Hl7Wire.parseProblems(
          eventsUs(s, dir).withColumn("raw", raw), "raw")
        .select(col("event_id").cast("long").as("event_id"),
          col("conditionCode").as("condition_code"), col("comment"))
        .orderBy(col("event_id"))
    }),

    // ---- training-data prep: the ops COMPOSE ------------------------
    // exact-dedup → per-doc quality stats → quality gate, one pipeline:
    // the shape of a real corpus-prep job (each stage is its own
    // oracle-checked op — q19/q25 — this checks their composition).
    "q68_prep_pipeline" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val keep = Dedup.exact(docs, "doc_id", "text")
      val survivors = docs.join(keep,
        col("doc_id") === col("keep_id")).drop("keep_id")
      TextAnalysis.stats(survivors, "doc_id", "text")
        .join(survivors.select(col("doc_id"), col("n_dups")), Seq("doc_id"))
        .filter(col("quality"))
        .select(col("doc_id"),
          col("n_tokens").cast("long").as("n_tokens"),
          col("n_dups").cast("long").as("n_dups"))
        .orderBy(col("doc_id"))
    }),

    // ---- waveform downsample WITHOUT exploding ----------------------
    // Per-(location, minute) mean over array rows: the per-row partial
    // is an `aggregate` HOF (zero shuffle), rounded samples sum as
    // DECIMAL so cross-row addition is exact and order-free, then ONE
    // group-by combines partials — the 100 TB shape (posexplode would
    // shuffle every sample).
    "q69_waveform_downsample" -> ((s, dir) => {
      val msgs = graft.sources.WaveformGenerator.messages(s,
        nLocations = 5, rateHz = 50, seconds = 120, samplesPerMsg = 40)
      msgs
        .withColumn("__sum",
          aggregate(col("values"), lit(0).cast("decimal(28,6)"),
            (acc, v) => (acc + round(v, 6).cast("decimal(28,6)"))
              .cast("decimal(28,6)")))
        .withColumn("__minute",
          (col("obsTimeUs") / 60000000L).cast("long") * 60000000L)
        .groupBy(col("locationId").as("location_id"),
          col("__minute").as("minute_us"))
        .agg(sum(size(col("values"))).cast("long").as("n_samples"),
          (sum(col("__sum")).cast("double") /
            sum(size(col("values")))).as("mean_value"))
        .orderBy(col("location_id"), col("minute_us"))
    }),

    // ---- O2 both axes, PERSISTED: the streamed star's stored-time
    // travel (q43's contract, but through StarPipeline's bucketed
    // manifest fold — each batch lands on disk and the next fold reads
    // it back through a FRESH Config, i.e. the state survives a process
    // restart; ref informdb/AuditCore.java:32-35, TemporalCore.java:29-32)
    "q70_bitemporal_pipeline" -> ((s, dir) => {
      import graft.streaming.StarPipeline
      val root = graft.SparkEntry.tmpDir("q70_state")
      val msgs = eventsUs(s, dir)
        .select(col("user_id"), col("ts_us"), col("event_id"),
          col("event_type").as("state"), col("value"),
          (pmod(col("event_id"), lit(4)) + 1).cast("long").as("stored_us"))
      val mkCfg = () => StarPipeline.Config(root, Seq("user_id"), "ts_us",
        "event_id", Seq("state", "value"), nBuckets = 16,
        storedFromUsCol = "stored_us")
      (1L to 4L).foreach { b =>
        StarPipeline.foldBatchBitemporal(
          msgs.filter(col("stored_us") === b), b, mkCfg())
      }
      val tbl = StarPipeline.readBitemporal(s, mkCfg()).get
      val beliefs = (1L to 4L).map { cutoff =>
        tbl.filter(storedAsOf(lit(cutoff), col("stored_from_us"),
            col("stored_until_us")))
          .select(lit(cutoff).as("cutoff"), col("user_id"), col("event_id"),
            col("state"), col("value"), col("ts_us").as("valid_from_us"),
            col("valid_until_us"))
      }.reduce(_ unionByName _)
      beliefs.orderBy(col("cutoff"), col("user_id"), col("valid_from_us"),
        col("event_id"))
    }),

    // ---- composed pipeline oracles: raw wire → WirePipeline.foldBatch
    // (persisted, two micro-batches) → derived read views. These check
    // the WHOLE front door — router, parser, guard, bucketed fold,
    // manifest read-back, derived re-derivation — against a DuckDB
    // replay of the reference semantics (the reference's single
    // consumer, core/.../App.java:75-118).

    // O6/O7 occupancy from persisted ADT state
    "q71_pipeline_occupancy" -> ((s, dir) => {
      import graft.streaming.WirePipeline
      val root = graft.SparkEntry.tmpDir("q71_state")
      val dtm = date_format(timestamp_micros(
        expr("ts_us div 1000000") * 1000000L), "yyyyMMddHHmmss")
      val eid = col("event_id").cast("string")
      val uid = col("user_id").cast("string")
      val t5 = pmod(col("event_id"), lit(5))
      val trig = when(t5 === 0, "A01").when(t5.isin(1, 2), "A02")
        .when(t5 === 3, "A08").otherwise("A03")
      val mid = concat(lit("T"), lpad(eid, 10, "0"))
      val loc = concat(col("event_type"), lit("_"), eid)
      val raw = concat_ws("\r",
        concat(lit("MSH|^~\\&|EPIC|UCLH|||"), dtm, lit("||ADT^"), trig,
          lit("|"), mid, lit("|P|2.4")),
        concat(lit("EVN|"), trig, lit("|"), dtm, lit("||||"), dtm),
        concat(lit("PID|1||M"), uid, lit("^^^MRN^MRN")),
        concat(lit("PV1|1|I|"), loc, lit("|" * 16), lit("V"), uid,
          lit("|" * 26), when(t5 === 4, dtm).otherwise(lit(""))))
      val msgs = eventsUs(s, dir).withColumn("raw", raw).select("raw",
        "event_id")
      WirePipeline.foldBatch(
        msgs.filter(pmod(col("event_id"), lit(2)) === 0), 1L, "raw", root)
      WirePipeline.foldBatch(
        msgs.filter(pmod(col("event_id"), lit(2)) === 1), 2L, "raw", root)
      WirePipeline.derived(s, root).get.intervals
        .select(col("visitId").as("visit_id"), col("location"),
          col("admissionUs").as("admission_us"),
          col("inferredAdmission").cast("long").as("inferred_admission"),
          col("dischargeUs").as("discharge_us"),
          col("inferredDischarge").cast("long").as("inferred_discharge"))
        .orderBy(col("visit_id"), col("admission_us"), col("location"))
    }),

    // O4 identity pointer table from persisted ADT state: chained A40
    // merges transitively close through the pipeline
    "q72_pipeline_mrn_map" -> ((s, dir) => {
      import graft.streaming.WirePipeline
      val root = graft.SparkEntry.tmpDir("q72_state")
      val dtm = date_format(timestamp_micros(
        expr("ts_us div 1000000") * 1000000L), "yyyyMMddHHmmss")
      val eid = col("event_id").cast("string")
      val uid = col("user_id").cast("string")
      val isMerge = pmod(col("event_id"), lit(13)) === 0
      val trig = when(isMerge, "A40").otherwise("A01")
      val mid = concat(lit("G"), lpad(eid, 10, "0"))
      val raw = concat_ws("\r",
        concat(lit("MSH|^~\\&|EPIC|UCLH|||"), dtm, lit("||ADT^"), trig,
          lit("|"), mid, lit("|P|2.4")),
        concat(lit("EVN|"), trig, lit("|"), dtm),
        concat(lit("PID|1||M"), uid, lit("^^^MRN^MRN")),
        when(isMerge, concat(lit("MRG|M"), (col("user_id") - 1)
          .cast("string"), lit("^^^MRN^MRN"))).otherwise(lit("PV1|1|O")))
      val msgs = eventsUs(s, dir).withColumn("raw", raw).select("raw",
        "event_id")
      WirePipeline.foldBatch(
        msgs.filter(pmod(col("event_id"), lit(2)) === 0), 1L, "raw", root)
      WirePipeline.foldBatch(
        msgs.filter(pmod(col("event_id"), lit(2)) === 1), 2L, "raw", root)
      WirePipeline.derived(s, root).get.mrnToLive
        .orderBy(col("mrn"))
    }),

    // O17 live conditions from persisted state: PPR problems fold with
    // AD/UP/DE actions; tombstoned keys drop from the live view
    "q73_pipeline_conditions" -> ((s, dir) => {
      import graft.streaming.WirePipeline
      val root = graft.SparkEntry.tmpDir("q73_state")
      val dtm = date_format(timestamp_micros(
        expr("ts_us div 1000000") * 1000000L), "yyyyMMddHHmmss")
      val eid = col("event_id").cast("string")
      val uid = col("user_id").cast("string")
      val k = pmod(col("event_id"), lit(20)).cast("string")
      val act = when(pmod(col("event_id"), lit(7)) === 0, "DE")
        .when(pmod(col("event_id"), lit(2)) === 0, "AD").otherwise("UP")
      val onset = date_format(timestamp_micros(
        expr("ts_us div 1000000") * 1000000L), "yyyyMMdd")
      val mid = concat(lit("N"), lpad(eid, 10, "0"))
      val raw = concat_ws("\r",
        concat(lit("MSH|^~\\&|EPIC|Problem List|||"), dtm,
          lit("|X|PPR^PC1|"), mid, lit("|P|2.4")),
        concat(lit("PID|1||M"), uid, lit("^^^MRN^MRN")),
        concat(lit("PRB|"), act, lit("|"), dtm, lit("|C"), k,
          lit("^Cond^I10UK|P"), k, lit("|||||||||S"),
          pmod(col("event_id"), lit(3)).cast("string"),
          lit("|||"), onset))
      val msgs = eventsUs(s, dir).withColumn("raw", raw).select("raw",
        "event_id")
      WirePipeline.foldBatch(
        msgs.filter(pmod(col("event_id"), lit(2)) === 0), 1L, "raw", root)
      WirePipeline.foldBatch(
        msgs.filter(pmod(col("event_id"), lit(2)) === 1), 2L, "raw", root)
      WirePipeline.liveConditions(s, root).get
        .select(col("mrn"), col("conditionTypeId").as("condition_type"),
          col("internalId").as("internal_id"), col("status"),
          col("onsetDate").as("onset_date"), col("action"))
        .orderBy(col("mrn"), col("condition_type"))
    }),

    // O16 lab star from persisted state: WinPath ORU wire → funnel →
    // bucketed fold → live read-back, results exploded
    "q74_pipeline_labs" -> ((s, dir) => {
      import graft.streaming.WirePipeline
      val root = graft.SparkEntry.tmpDir("q74_state")
      val k = col("o_orderkey").cast("string")
      val v1 = (pmod(col("o_orderkey"), lit(90)) + 10).cast("string")
      val v2 = (pmod(col("o_custkey"), lit(50)) + 1).cast("string")
      val raw = concat_ws("\r",
        concat(lit("MSH|^~\\&|WinPath|UCLH|||20240501120000||ORU^R01|L"),
          lpad(k, 10, "0"), lit("|P|2.4")),
        concat(lit("PID|1||M"), col("o_custkey").cast("string"),
          lit("^^^MRN^MRN")),
        concat(lit("OBR|1|EP"), k, lit("|F"), k,
          lit("|FBC^FBC^WinPath|||20240501100000")),
        concat(lit("OBX|1|NM|HGB^Haemoglobin^WinPath||"), v1,
          lit("|g/dL|||||F")),
        concat(lit("OBX|2|NM|WCC^WCC^WinPath||"), v2,
          lit("|10*9/L|||||F")))
      val msgs = t(s, dir, "orders").withColumn("raw", raw)
        .select("raw", "o_orderkey")
      WirePipeline.foldBatch(
        msgs.filter(pmod(col("o_orderkey"), lit(2)) === 0), 1L, "raw", root)
      WirePipeline.foldBatch(
        msgs.filter(pmod(col("o_orderkey"), lit(2)) === 1), 2L, "raw", root)
      graft.streaming.StarPipeline.readState(s,
          graft.streaming.StarPipeline.Config(s"$root/labs",
            Seq("battery", "labSpecimenNumber"), "statusChangeTimeUs",
            "sourceMessageId", Seq("epicOrderNumber", "mrn", "results"),
            nBuckets = 8), "live").get
        .select(col("battery"), col("labSpecimenNumber"), col("mrn"),
          explode(col("results")).as("r"))
        .select(
          regexp_extract(col("labSpecimenNumber"), "^F(\\d+)$", 1)
            .cast("long").as("order_key"),
          col("battery"), col("mrn"),
          col("r.testCode").as("test_code"),
          col("r.mimeType").as("mime"),
          col("r.numericValue").as("num_value"),
          col("r.units"))
        .orderBy(col("order_key"), col("test_code"))
    }),

    // ---- O2 both axes through the WIRE pipeline: raw ADT folds
    // bitemporally (storedFrom = batch id, the reference's per-write
    // stored stamp at micro-batch granularity), then each stored cutoff
    // replays the belief — batch 2 re-delivers some batch-1 frames
    // (W2: replays must cause zero stored churn) and carries
    // out-of-order valid times (stored axis must close/reopen the
    // versions batch 1 believed in)
    "q76_wire_bitemporal" -> ((s, dir) => {
      import graft.streaming.WirePipeline
      val root = graft.SparkEntry.tmpDir("q76_state")
      val dtm = date_format(timestamp_micros(
        expr("ts_us div 1000000") * 1000000L), "yyyyMMddHHmmss")
      val eid = col("event_id").cast("string")
      val uid = col("user_id").cast("string")
      val trig = when(pmod(col("event_id"), lit(7)) === 0, "A01")
        .otherwise("A02")
      val mid = concat(lit("B"), lpad(eid, 10, "0"))
      val loc = concat(col("event_type"), lit("_"), eid)
      val raw = concat_ws("\r",
        concat(lit("MSH|^~\\&|EPIC|UCLH|||"), dtm, lit("||ADT^"), trig,
          lit("|"), mid, lit("|P|2.4")),
        concat(lit("EVN|"), trig, lit("|"), dtm),
        concat(lit("PID|1||M"), uid, lit("^^^MRN^MRN")),
        concat(lit("PV1|1|I|"), loc, lit("|" * 16), lit("V"), uid))
      val msgs = eventsUs(s, dir).withColumn("raw", raw)
        .select("raw", "event_id")
      val b1 = msgs.filter(pmod(col("event_id"), lit(2)) === 0)
      // odd frames + an exact replay of every 10th even frame
      val b2 = msgs.filter(pmod(col("event_id"), lit(2)) === 1)
        .unionByName(msgs.filter(pmod(col("event_id"), lit(10)) === 0))
      WirePipeline.foldBatch(b1, 1L, "raw", root, bitemporal = true)
      WirePipeline.foldBatch(b2, 2L, "raw", root, bitemporal = true)
      val tbl = WirePipeline.readBelief(s, root, "adt").get
      (1L to 2L).map { cut =>
        tbl.filter(storedAsOf(lit(cut), col("stored_from_us"),
            col("stored_until_us")))
          .select(lit(cut).as("cutoff"), col("mrn"),
            col("validFromUs").as("valid_from_us"),
            col("valid_until_us"),
            col("msgType").as("msg_type"),
            col("fullLocationString").as("location"),
            col("visitNumber").as("visit_id"))
      }.reduce(_ unionByName _)
        .orderBy(col("cutoff"), col("mrn"), col("valid_from_us"))
    }),

    // ---- persisted incremental IVF index: two appends → partition-
    // pruned 2-probe query over the on-disk index ---------------------
    "q78_ivf_index" -> ((s, dir) => {
      val root = graft.SparkEntry.tmpDir("q78_index")
      val em = t(s, dir, "embeddings")
      val nLabels = em.agg(max(col("label"))).head.getInt(0) + 1
      Ann.ivfIndexAppend(em.filter(pmod(col("vec_id"), lit(2)) === 0),
        "vec_id", "embedding", col("label"), root, 1L)
      Ann.ivfIndexAppend(em.filter(pmod(col("vec_id"), lit(2)) === 1),
        "vec_id", "embedding", col("label"), root, 2L)
      val qs = em.filter(col("vec_id") < 8)
        .withColumn("probes", array(col("label").cast("long"),
          pmod(col("label") + 1, lit(nLabels)).cast("long")))
      Ann.ivfIndexQuery(s, root, qs, "vec_id", "embedding", "probes", k = 3)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- S5 waveform wire: MLLP-framed HL7 ORU^R01 → deframe → parse
    // with metadata enrichment + location mapping; unusable streams
    // surface as error rows, never dropped (ref
    // waveform-reader/.../Hl7ParseAndQueue.java:50-140) --------------
    "q79_waveform_hl7" -> ((s, dir) => {
      import s.implicits._
      import graft.sources.WaveformListener
      val dtm = date_format(timestamp_micros(
        expr("ts_us div 1000000") * 1000000L), "yyyyMMddHHmmss")
      val eid = col("event_id").cast("string")
      val sid = (pmod(col("event_id"), lit(3)) + 52912).cast("string")
      val v1 = pmod(col("event_id"), lit(97)).cast("string")
      val v2 = (pmod(col("event_id"), lit(89)) + 1).cast("string")
      val v3 = (pmod(col("event_id"), lit(83)) + 2).cast("string")
      val raw = concat(lit(""),
        concat_ws("\r",
          concat(lit("MSH|^~\\&|CAPS|UCLH|||20240601120000||ORU^R01|W"),
            eid, lit("|P|2.4")),
          lit("PV1|1|I|B1"),
          lit("OBR|1|||||||||B1"),
          concat(lit("OBX|1|NA|"), sid, lit("||"), v1, lit("^"), v2,
            lit("^"), v3, lit("|||||||||"), dtm)),
        lit("\r"))
      val md = Seq(("52912", 300, "uV", "ECG II", true),
        ("52913", 50, "mmHg", "ART", true),
        ("52914", 120, "x", "BAD", false))
        .toDF("streamId", "samplingRate", "unit", "streamDescription",
          "usable")
      val lines = eventsUs(s, dir).withColumn("line", raw).select("line")
      WaveformListener.parseWaveformHl7(
          WaveformListener.frameMllp(lines, "line"), "hl7", md,
          locationMapping = Map("B1" -> "T42^B1"))
        .select(col("sourceMessageId").as("msg_id"),
          col("locationId").as("location"),
          col("streamId").cast("long").as("stream_id"),
          col("samplingRate").cast("long").as("rate"),
          col("unit"),
          col("obsTimeUs").as("obs_us"),
          element_at(col("values"), 1).as("v1"),
          element_at(col("values"), 3).as("v3"),
          col("error"))
        .orderBy(col("msg_id"))
    }),

    // ---- exact duplicated spans (window-hash substring dedup) -------
    "q80_dup_spans" -> ((s, dir) => {
      Dedup.dupSpans(t(s, dir, "documents"), "doc_id", "text",
          windowTokens = 8)
        .select(col("doc_id").cast("long").as("doc_id"), col("win_idx"),
          col("window_hash"), col("n_docs"))
        .orderBy(col("doc_id"), col("win_idx"))
    }),

    // ---- duplicated-span REMOVAL: cut the boilerplate, keep the doc --
    "q117_cut_dup_spans" -> ((s, dir) => {
      Dedup.cutDupSpans(
          t(s, dir, "documents")
            .withColumn("doc_id", col("doc_id").cast("long")),
          "doc_id", "text", windowTokens = 8)
        .orderBy(col("doc_id"))
    }),

    // ---- Gopher repetition filters over the documents corpus --------
    "q77_repetition" -> ((s, dir) => {
      graft.operators.TextAnalysis.repetitionStats(
          t(s, dir, "documents"), "doc_id", "text")
        .select(col("doc_id").cast("long").as("doc_id"),
          col("n_lines").cast("long").as("n_lines"),
          col("n_words").cast("long").as("n_words"),
          col("dup_line_frac"), col("dup_line_char_frac"),
          col("top_2gram_char_frac"), col("dup_5gram_char_frac"),
          col("repetition_pass"))
        .orderBy(col("doc_id"))
    }),

    // ---- O19 Forms (SDE) vertical from persisted state: instances +
    // answers fold in batch 1, a value re-file + the metadata import
    // land in batch 2 — newest-wins answers, placeholder dims for
    // definitions/questions metadata never described (ref
    // core/.../FormController.java:110-164, FormProcessor.java:52-83)
    "q75_forms_pipeline" -> ((s, dir) => {
      import graft.streaming.FormsPipeline
      FormsPipeline.answers(s, formsFixtureState(s, dir)).get
        .select(col("formInstanceId").as("form_instance"),
          col("questionId").as("question_id"),
          col("filedTimeUs").as("filed_us"),
          col("numericValue").as("num_value"),
          col("stringValue").as("str_value"),
          col("formName").as("form_name"),
          col("formPlaceholder").cast("long").as("form_placeholder"),
          col("questionName").as("question_name"))
        .orderBy(col("form_instance"), col("question_id"))
    }),

    // ---- O12b: room/bed/bed-facility metadata verticals -------------
    // The dept/room/bed trio driven from ONE LocationMetadata message
    // shape (ref LocationController.java:128-146): room states SCD-2
    // with write-once names, bed states with CSN dedup + pool-bed
    // counting, bed facilities accumulating per state.
    "q81_location_states" -> ((s, dir) => {
      val k = col("o_orderkey")
      val base = t(s, dir, "orders").select(
        k.as("msgId"),
        (col("o_custkey") % 20).as("departmentId"),
        concat(lit("R"), (k % 50).cast("string")).as("roomHl7"),
        concat(lit("B"), (k % 7).cast("string")).as("bedHl7"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("contactUs"),
        when(col("o_orderstatus") === "F", lit("ACTIVE"))
          .otherwise(lit("INACTIVE")).as("status"),
        (k % 11 === 0).as("isPool"),
        (k % 5 === 0).as("isBunk"),
        (k % 2 === 0).as("inCensus"),
        when(k % 3 === 0, lit("COT"))
          .when(k % 3 === 1, lit("MONITOR")).as("facility"))
      val roomMsgs = base.select(col("departmentId"), col("roomHl7"),
        concat(lit("Room-"), col("roomHl7")).as("roomName"),
        col("msgId").as("roomCsn"), col("contactUs").as("roomContactUs"),
        col("status").as("roomRecordState"),
        (col("msgId") % 2 === 1).as("isRoomReady"), col("msgId"))
      val bedMsgs = base.select(col("departmentId"), col("roomHl7"),
        col("bedHl7"), col("msgId").as("bedCsn"),
        col("contactUs").as("bedContactUs"),
        col("status").as("bedRecordState"), col("isPool").as("isPoolBed"),
        col("isBunk").as("isBunkBed"), col("inCensus").as("bedIsInCensus"),
        col("facility").as("bedFacility"), col("msgId"))
      val r = LocationMeta.roomStates(roomMsgs)
      val b = LocationMeta.bedStates(bedMsgs)
      val facCount = b.facilities
        .groupBy("departmentId", "roomHl7", "bedHl7", "csn")
        .agg(countDistinct(col("facility")).as("fc"))
      val bedOut = b.states
        .join(facCount, Seq("departmentId", "roomHl7", "bedHl7", "csn"),
          "left")
        .select(lit("bed").as("level"),
          col("departmentId").cast("long").as("department_id"),
          col("roomHl7").as("room"), col("bedHl7").as("bed"),
          col("csn").cast("long").as("csn"), col("status"),
          lit(null).cast("int").as("is_ready"),
          col("isBunkBed").cast("int").as("is_bunk"),
          col("bedIsInCensus").cast("int").as("in_census"),
          col("poolBedCount").cast("long").as("pool_count"),
          col("validFromUs").as("valid_from_us"),
          col("validUntilUs").as("valid_until_us"),
          coalesce(col("fc"), lit(0)).cast("long").as("fac_count"))
      val roomOut = r.states.select(lit("room").as("level"),
        col("departmentId").cast("long").as("department_id"),
        col("roomHl7").as("room"), lit(null).cast("string").as("bed"),
        col("csn").cast("long").as("csn"), col("status"),
        col("isRoomReady").cast("int").as("is_ready"),
        lit(null).cast("int").as("is_bunk"),
        lit(null).cast("int").as("in_census"),
        lit(null).cast("long").as("pool_count"),
        col("validFromUs").as("valid_from_us"),
        col("validUntilUs").as("valid_until_us"),
        lit(null).cast("long").as("fac_count"))
      roomOut.unionByName(bedOut)
        .orderBy(col("level"), col("department_id"), col("room"),
          col("bed"), col("csn"))
    }),

    // ---- O17b: ConditionVisits link table ---------------------------
    // Problems with a PV1 visit save an insert-once condition↔visit
    // link (ref PatientConditionController.java:337-348); links outlive
    // condition tombstones and re-sightings are no-ops. Two batches
    // through the persisted pipeline, then the link set joined to the
    // live condition view.
    "q82_condition_visits" -> ((s, dir) => {
      import graft.streaming.WirePipeline
      val root = graft.SparkEntry.tmpDir("q82_state")
      val dtm = date_format(timestamp_micros(
        expr("ts_us div 1000000") * 1000000L), "yyyyMMddHHmmss")
      val eid = col("event_id").cast("string")
      val uid = col("user_id").cast("string")
      val k = pmod(col("event_id"), lit(20)).cast("string")
      val act = when(pmod(col("event_id"), lit(7)) === 0, "DE")
        .when(pmod(col("event_id"), lit(2)) === 0, "AD").otherwise("UP")
      val onset = date_format(timestamp_micros(
        expr("ts_us div 1000000") * 1000000L), "yyyyMMdd")
      val mid = concat(lit("V"), lpad(eid, 10, "0"))
      // a visit on 2 of 3 messages; the visit id varies per message so
      // one condition accumulates several links (concat_ws skips the
      // null PV1 row entirely)
      val pv1 = when(pmod(col("event_id"), lit(3)) =!= 0,
        concat(lit("PV1|1|I|T11"), lit("|" * 16), lit("E"), uid,
          lit("x"), pmod(col("event_id"), lit(4)).cast("string")))
      val raw = concat_ws("\r",
        concat(lit("MSH|^~\\&|EPIC|Problem List|||"), dtm,
          lit("|X|PPR^PC1|"), mid, lit("|P|2.4")),
        concat(lit("PID|1||M"), uid, lit("^^^MRN^MRN")),
        pv1,
        concat(lit("PRB|"), act, lit("|"), dtm, lit("|C"), k,
          lit("^Cond^I10UK|P"), k, lit("|||||||||S"),
          pmod(col("event_id"), lit(3)).cast("string"),
          lit("|||"), onset))
      val msgs = eventsUs(s, dir).withColumn("raw", raw).select("raw",
        "event_id")
      WirePipeline.foldBatch(
        msgs.filter(pmod(col("event_id"), lit(2)) === 0), 1L, "raw", root)
      WirePipeline.foldBatch(
        msgs.filter(pmod(col("event_id"), lit(2)) === 1), 2L, "raw", root)
      val links = WirePipeline.conditionVisits(s, root).get
      val live = WirePipeline.liveConditions(s, root).get
        .select(col("mrn"), col("conditionTypeId"), col("internalId"),
          col("status"))
      links.join(live, Seq("mrn", "conditionTypeId", "internalId"))
        .select(col("mrn"), col("conditionTypeId").as("condition_type"),
          col("internalId").as("internal_id"),
          col("visitNumber").as("visit_id"), col("status"))
        .orderBy(col("mrn"), col("condition_type"), col("visit_id"))
    }),

    // ---- DSIR importance weights: hashed-n-gram data selection -------
    // Target domain = the English documents; every doc scored by how
    // en-like its hashed unigram+bigram features are. Exact-integer
    // likelihood-ratio sum (see TextAnalysis.dsirWeights) so the oracle
    // replays the score bit-for-bit.
    "q92_dsir_weights" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      TextAnalysis.dsirWeights(d, d.filter(col("lang") === "en"),
          "doc_id", "text", nBuckets = 65536, scale = 1000000L,
          threshold = 0.45)
        .orderBy(col("doc_id"))
    }),

    // ---- incremental DSIR: frozen importance model, batch scoring ----
    // The bucket table is persisted once; two training batches score
    // against it independently and union to the one-shot q92 result —
    // the oracle IS the q92 SQL.
    "q101_dsir_incr" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val idx = graft.SparkEntry.tmpDir("dsir_idx")
      TextAnalysis.buildDsirIndex(d, d.filter(col("lang") === "en"),
        "doc_id", "text", nBuckets = 65536, scale = 1000000L,
        indexDir = idx)
      val fold = (p: Column) => TextAnalysis.dsirScoreIncremental(
        s, idx, d.filter(p), "doc_id", "text", nBuckets = 65536,
        threshold = 0.45)
      fold(pmod(col("doc_id"), lit(2)) === 1)
        .unionByName(fold(pmod(col("doc_id"), lit(2)) === 0))
        .orderBy(col("doc_id"))
    }),

    // ---- per-domain caps + blocklist: URL/host curation --------------
    // Blocklist two sources outright; cap the rest at 10 docs each,
    // chosen by portable hash order.
    "q93_domain_cap" -> ((s, dir) => {
      TextAnalysis.domainCap(t(s, dir, "documents"), "doc_id", "source",
          maxPerDomain = 10, blocklist = Seq("src7", "src13"))
        .select(col("doc_id"), col("source"), col("keep_rank"))
        .orderBy(col("doc_id"))
    }),

    // ---- corpus-trained LM quality buckets (CCNet shape) -------------
    "q94_lm_quality" -> ((s, dir) => {
      TextAnalysis.lmQualityScore(t(s, dir, "documents"), "doc_id",
          "text", headMin = 0.0334, midMin = 0.0333)
        .orderBy(col("doc_id"))
    }),

    // ---- bigram-LM quality buckets (the n-gram family of q94) --------
    "q103_lm_bigram" -> ((s, dir) => {
      TextAnalysis.lmBigramScore(t(s, dir, "documents"), "doc_id",
          "text", headMin = 0.0350, midMin = 0.0340)
        .orderBy(col("doc_id"))
    }),

    // ---- BPE pair counts: the tokenizer-training merge table ---------
    "q95_bpe_pairs" -> ((s, dir) => {
      TextAnalysis.bpePairCounts(t(s, dir, "documents"), "text")
        .orderBy(col("pair"))
    }),

    // ---- composed curation pipeline v3: the round-8 ops chained ------
    // domain caps → exact mixture → DSIR gate (target = the mix's en
    // docs) → LM-quality tail drop (model trained on the SURVIVING
    // corpus) → sequence packing. One oracle over the chain: every
    // stage's keep-set feeds the next stage's statistics, so a drift
    // anywhere shifts every downstream offset.
    "q100_curation_pipeline" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val capped = TextAnalysis.domainCap(d, "doc_id", "source",
          maxPerDomain = 15, blocklist = Seq("src7", "src13"))
        .select("doc_id", "lang", "source", "text")
      val mixed = TextAnalysis.mixToTarget(capped, "doc_id", "lang",
          targetShare10k = Map("en" -> 5000L, "fr" -> 2000L,
            "de" -> 1500L, "es" -> 1000L, "zh" -> 500L))
        .select("doc_id", "lang", "source", "text")
      val scored = TextAnalysis.dsirWeights(mixed,
        mixed.filter(col("lang") === "en"), "doc_id", "text",
        nBuckets = 65536, threshold = 0.48)
      val sel = mixed.join(
        scored.filter(col("selected")).select("doc_id"), "doc_id")
      val lm = TextAnalysis.lmQualityScore(sel, "doc_id", "text",
        headMin = 1.0, midMin = 0.0332)
      val kept = sel.join(
        lm.filter(col("mean_rel_freq") >= 0.0332).select("doc_id"),
        "doc_id")
      TextAnalysis.packSequences(kept, "doc_id", "source", "text",
          chunkTokens = 2048)
        .orderBy(col("stream"), col("doc_id"))
    }),

    // ---- full BPE training: the ordered merge table ------------------
    // Driver-local merge loop over the vocab-sized word table (corpus
    // scanned once); greedy argmax merges with deterministic
    // tie-breaks. Oracle: the merge loop unrolled as 20 materialized
    // CTE steps (pair count → argmax → gaps-and-islands greedy rewrite
    // per step) — every merge row is hash-checked.
    "q98_bpe_train" -> ((s, dir) => {
      TextAnalysis.bpeTrain(t(s, dir, "documents"), "text", numMerges = 20)
        .orderBy(col("step"))
    }),

    // ---- incremental tokenizer training: persisted word index --------
    // Fold the corpus into the word-frequency index in two batches,
    // then train from the index — must equal the one-shot q98 merge
    // table (verbatim oracle): counts are additive, and the merge loop
    // is a pure function of the summed vocab.
    "q116_bpe_incremental" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val idx = graft.SparkEntry.tmpDir("word_idx")
      TextAnalysis.wordIndexAppend(
        d.filter(pmod(col("doc_id"), lit(2)) === 0), "text", idx, 1L)
      TextAnalysis.wordIndexAppend(
        d.filter(pmod(col("doc_id"), lit(2)) === 1), "text", idx, 2L)
      TextAnalysis.bpeTrainFromIndex(s, idx, numMerges = 20)
        .orderBy(col("step"))
    }),

    // ---- BPE encode: the 100 TB tokenizer application pass -----------
    // Train 20 merges on the corpus, then encode every document with
    // the trained table (sequential-in-order application). The oracle
    // replays the training chain and reads each word's FINAL vocab
    // state — encode-consistency with training, end to end.
    "q104_bpe_encode" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val merges = TextAnalysis.bpeTrain(d, "text", numMerges = 20)
        .orderBy(col("step")).collect()
        .map(r => r.getAs[String]("left") -> r.getAs[String]("right")).toSeq
      TextAnalysis.bpeEncode(d, "doc_id", "text", merges)
        .orderBy(col("doc_id"), col("pos"))
    }),

    // ---- real BPE token counts (tokenCounts' trained mode) -----------
    "q106_bpe_token_counts" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val merges = TextAnalysis.bpeTrain(d, "text", numMerges = 20)
        .orderBy(col("step")).collect()
        .map(r => r.getAs[String]("left") -> r.getAs[String]("right")).toSeq
      TextAnalysis.tokenCounts(d, "doc_id", "text", merges)
        .orderBy(col("doc_id"))
    }),

    // ---- BPE encode to token IDS: the pretraining artifact -----------
    // train → deterministic vocab (base alphabet in UTF-8 order, then
    // merges in training order — the GPT-2 layout) → id sequences.
    "q107_bpe_encode_ids" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val merges = TextAnalysis.bpeTrain(d, "text", numMerges = 20)
        .orderBy(col("step")).collect()
        .map(r => r.getAs[String]("left") -> r.getAs[String]("right")).toSeq
      val vocab = TextAnalysis.bpeVocab(d, "text", merges)
      TextAnalysis.bpeEncodeIds(d, "doc_id", "text", merges, vocab)
        .orderBy(col("doc_id"), col("pos"))
    }),

    // ---- MATERIALIZED packed batches: the artifact a trainer reads --
    // train → encode to ids → lay docs end-to-end per language stream
    // → emit one row per 512-token chunk with the comma-joined id
    // sequence. The oracle replays the whole chain through the packed
    // id strings — any offset slip or ordering wobble scrambles them.
    "q133_pack_emit" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val merges = TextAnalysis.bpeTrain(d, "text", numMerges = 20)
        .orderBy(col("step")).collect()
        .map(r => r.getAs[String]("left") -> r.getAs[String]("right")).toSeq
      val vocab = TextAnalysis.bpeVocab(d, "text", merges)
      val enc = TextAnalysis.bpeEncodeIds(d, "doc_id", "text", merges,
        vocab)
      TextAnalysis.emitPackedChunks(enc,
          d.select(col("doc_id"), col("lang").as("stream")),
          chunkTokens = 512)
        .orderBy(col("stream"), col("chunk_idx"))
    }),

    // ---- deterministic epoch shuffle + round-robin sharding ---------
    "q134_shuffle_shard" -> ((s, dir) => {
      TextAnalysis.shardAssign(t(s, dir, "documents"), "doc_id",
          numShards = 8)
        .orderBy(col("doc_id"))
    }),

    // ---- tokenize-and-pack: the end-to-end pretraining layout --------
    // train → REAL per-doc token counts (in-row BpeApply, zero extra
    // scan) → concat-and-chunk packing on those counts. Chunk budget
    // 512 REAL tokens, not the chars/4 heuristic.
    "q111_tokenize_pack" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val merges = TextAnalysis.bpeTrain(d, "text", numMerges = 20)
        .orderBy(col("step")).collect()
        .map(r => r.getAs[String]("left") -> r.getAs[String]("right")).toSeq
      val bpeCount = aggregate(
        transform(tokens(col("text")),
          w => size(graft.functions.BpeOps.bpeApply(w, merges)).cast("long")),
        lit(0L), (acc, n) => acc + n)
      TextAnalysis.packSequencesByCount(d, "doc_id", "source", bpeCount,
          chunkTokens = 512)
        .orderBy(col("stream"), col("doc_id"))
    }),

    // ---- count-min sketch: heavy hitters without a vocab agg ---------
    // The sketch (4×256 counters from the portable poly-hash) is the
    // at-rest artifact; the query reads every distinct token's true
    // count next to its sketch estimate (est >= true by construction).
    "q108_cm_sketch" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val sk = operators.Sketches.countMinSketch(d, "text",
        depth = 4, width = 256)
      val truth = d.select(explode(
          graft.functions.GraftFunctions.tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("true_cnt"))
      operators.Sketches.cmEstimate(sk, truth, "token",
          depth = 4, width = 256)
        .join(truth, col("item") === col("token"))
        .select(col("token"), col("true_cnt"), col("est_cnt"))
        .orderBy(col("token"))
    }),

    // ---- KMV distinct sketch: per-source distinct-token estimates ----
    "q109_kmv_distinct" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val toks = d.select(col("source"), explode(
        graft.functions.GraftFunctions.tokens(col("text"))).as("token"))
      operators.Sketches.kmvDistinct(toks, "source", "token", k = 8)
        .orderBy(col("grp"))
    }),

    // ---- PERSISTED CM sketch index: two batch folds, estimate from
    // the at-rest layers — counters add, so the folded estimate equals
    // the one-shot q108 result (verbatim oracle). The 100 TB property:
    // each fold writes ≤ depth·width rows and nothing rescans earlier
    // batches.
    "q124_cm_incremental" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val idx = graft.SparkEntry.tmpDir("cm_idx")
      operators.Sketches.cmSketchAppend(
        d.filter(pmod(col("doc_id"), lit(2)) === 0), "text",
        depth = 4, width = 256, idx, 1L)
      operators.Sketches.cmSketchAppend(
        d.filter(pmod(col("doc_id"), lit(2)) === 1), "text",
        depth = 4, width = 256, idx, 2L)
      val sk = operators.Sketches.cmFromIndex(s, idx)
      val truth = d.select(explode(
          graft.functions.GraftFunctions.tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("true_cnt"))
      operators.Sketches.cmEstimate(sk, truth, "token",
          depth = 4, width = 256)
        .join(truth, col("item") === col("token"))
        .select(col("token"), col("true_cnt"), col("est_cnt"))
        .orderBy(col("token"))
    }),

    // ---- PERSISTED KMV index: min-union of per-batch minima layers
    // recovers the one-shot q109 estimates exactly (verbatim oracle).
    "q125_kmv_incremental" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val idx = graft.SparkEntry.tmpDir("kmv_idx")
      def toks(part: DataFrame) = part.select(col("source"), explode(
        graft.functions.GraftFunctions.tokens(col("text"))).as("token"))
      operators.Sketches.kmvAppend(
        toks(d.filter(pmod(col("doc_id"), lit(2)) === 0)),
        "source", "token", k = 8, idx, 1L)
      operators.Sketches.kmvAppend(
        toks(d.filter(pmod(col("doc_id"), lit(2)) === 1)),
        "source", "token", k = 8, idx, 2L)
      operators.Sketches.kmvFromIndex(s, idx, k = 8)
        .orderBy(col("grp"))
    }),

    // ---- product quantization: train → encode → ADC search -----------
    // The memory-compression ANN path (Jégou et al. 2011): 4 subspaces
    // × 8 codes trained with the portable Lloyd's, vectors compressed
    // to 4 codes, search by asymmetric distance over code lookups. The
    // oracle replays ALL FOUR sub-quantizer trainings, the encoding,
    // and the ADC ranking.
    "q97_pq_search" -> ((s, dir) => {
      val em = t(s, dir, "embeddings")
      val cbs = Ann.pqTrainCodebooks(em, "vec_id", "embedding",
        m = 4, k = 8, iters = 2)
      val codes = Ann.pqEncode(em, "vec_id", "embedding", cbs)
      Ann.pqSearch(em.filter(pmod(col("vec_id"), lit(50)) === 0), codes,
          "vec_id", "embedding", cbs, k = 5)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- IVF-PQ: coarse lists + PQ on residuals (FAISS IVFPQ shape) --
    // The billion-scale index composed: coarse L2 Lloyd's → residuals →
    // per-subspace PQ training → (coarse, codes) index; search probes 2
    // lists with per-probe residual distance tables. Oracle replays the
    // coarse training, residuals, all four sub-trainings, encode, probe
    // selection, and the ADC ranking.
    "q99_ivfpq_search" -> ((s, dir) => {
      val em = t(s, dir, "embeddings")
      val (coarse, cbs, codes) = Ann.ivfPqBuild(em, "vec_id", "embedding",
        kc = 4, m = 4, k = 8, iters = 2)
      Ann.ivfPqSearch(em.filter(pmod(col("vec_id"), lit(50)) === 0),
          codes, "vec_id", "embedding", coarse, cbs, nProbe = 2, k = 5)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- persisted IVF-PQ index: append-only codes, pruned probes ----
    // Same build as q99; codes split into two appended batches, then
    // the query partition-prunes to each query's probed lists — result
    // must equal the in-memory search (oracle = q99's verbatim).
    "q102_ivfpq_persisted" -> ((s, dir) => {
      val em = t(s, dir, "embeddings")
      val (coarse, cbs, codes) = Ann.ivfPqBuild(em, "vec_id", "embedding",
        kc = 4, m = 4, k = 8, iters = 2)
      val idx = graft.SparkEntry.tmpDir("ivfpq_idx")
      Ann.ivfPqIndexAppend(
        codes.filter(pmod(col("emb_id"), lit(2)) === 0), idx, 1L)
      Ann.ivfPqIndexAppend(
        codes.filter(pmod(col("emb_id"), lit(2)) === 1), idx, 2L)
      Ann.ivfPqIndexQuery(s, idx,
          em.filter(pmod(col("vec_id"), lit(50)) === 0),
          "vec_id", "embedding", coarse, cbs, nProbe = 2, k = 5)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- STREAMED retrieval ingest: vectors through the ACTUAL
    // Structured-Streaming front end (MemoryStream → foreachBatch
    // encode-with-frozen-quantizers → layer append), compacted after
    // the stream, then the pruned query — per-vector codes are
    // batching-independent, so the result replays as the one-shot
    // q99/q102 search verbatim.
    "q137_retrieval_streamed" -> ((s, dir) => {
      import s.implicits._
      val em = t(s, dir, "embeddings")
      val (coarse, cbs, _) = Ann.ivfPqBuild(em, "vec_id", "embedding",
        kc = 4, m = 4, k = 8, iters = 2)
      val mk = () => graft.SparkEntry.tmpDir("retr_stream")
      val idx = mk()
      val cfg = graft.streaming.RetrievalStream.Config(idx, "vec_id",
        "embedding", coarse, cbs)
      // test-scale collect: the sf corpus feeds the MemoryStream
      val rows = em.select(col("vec_id"), col("embedding"))
        .as[(Long, Seq[Float])].collect()
      val ms = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Seq[Float])](s)
      val q = graft.streaming.RetrievalStream.start(
        ms.toDF().toDF("vec_id", "embedding"), cfg, mk())
      ms.addData(rows.filter(_._1 % 2 == 0).toSeq)
      q.processAllAvailable()
      ms.addData(rows.filter(_._1 % 2 == 1).toSeq)
      q.processAllAvailable()
      q.stop()
      Ann.compactVectorIndex(s, idx, partitionCol = "coarse")
      Ann.ivfPqIndexQuery(s, idx,
          em.filter(pmod(col("vec_id"), lit(50)) === 0),
          "vec_id", "embedding", coarse, cbs, nProbe = 2, k = 5)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- BLOOM-gated decontamination: bounded-state membership ------
    // The q84 check against a fixed-size bloom (3 hash rows × 64k
    // bits) instead of the exact benchmark hash set: no false
    // negatives (every exact-contaminated doc still flags), state ≤ m
    // positions no matter how many eval sets fold in. Oracle replays
    // the bit positions and the all-k membership test per shingle.
    "q138_bloom_decon" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      TextAnalysis.bloomDecontaminate(
          d.filter(pmod(col("doc_id"), lit(20)) =!= 0),
          d.filter(pmod(col("doc_id"), lit(20)) === 0),
          "doc_id", "text", "text", shingleN = 3, kHashes = 3,
          mBits = 65536, threshold = 0.05)
        .orderBy(col("doc_id"))
    }),

    // ---- PERSISTED bloom index: two benchmark folds, probe the merged
    // bit set. Blooms merge by bit-OR (position union), so the folded
    // probe equals the one-shot q138 run — verbatim oracle.
    "q139_bloom_incremental" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val idx = graft.SparkEntry.tmpDir("bloom_idx")
      val bench = d.filter(pmod(col("doc_id"), lit(20)) === 0)
      def sh(b: DataFrame) = b.select(explode(array_distinct(
        shingles(tokens(col("text")), 3))).as("s"))
      graft.operators.Sketches.bloomAppend(
        sh(bench.filter(pmod(col("doc_id"), lit(40)) === 0)), "s",
        kHashes = 3, mBits = 65536, idx, 1L)
      graft.operators.Sketches.bloomAppend(
        sh(bench.filter(pmod(col("doc_id"), lit(40)) =!= 0)), "s",
        kHashes = 3, mBits = 65536, idx, 2L)
      TextAnalysis.bloomDecontaminateAgainst(
          d.filter(pmod(col("doc_id"), lit(20)) =!= 0),
          graft.operators.Sketches.bloomFromIndex(s, idx),
          "doc_id", "text", shingleN = 3, kHashes = 3, mBits = 65536,
          threshold = 0.05)
        .orderBy(col("doc_id"))
    }),

    // ---- BM25 lexical retrieval: inverted index + exact-rational ----
    // idf/saturation (no log — the DSIR determinism convention), the
    // sparse half of the retrieval story next to q122's dense half.
    // Queries are each 97th doc's first three tokens; top-5 per query,
    // ties on doc_id. Oracle replays postings, df, and the integer
    // scoring pipeline verbatim.
    "q140_bm25_search" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val (postings, doclens) =
        Lexical.buildPostings(d, "doc_id", "text")
      val queries = d.filter(pmod(col("doc_id"), lit(97)) === 0)
        .select(col("doc_id").as("query_id"),
          slice(tokens(col("text")), 1, 3).as("terms"))
      Lexical.bm25Search(postings, doclens, queries, "query_id",
          "terms", k = 5)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- PERSISTED postings index: two doc-disjoint folds, score ----
    // from the merged layers. tf/df/N/T all ADD across disjoint
    // batches, so the layered union IS the one-shot table — verbatim
    // q140 oracle.
    "q141_bm25_incremental" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val idx = graft.SparkEntry.tmpDir("bm25_idx")
      Lexical.postingsAppend(
        d.filter(pmod(col("doc_id"), lit(2)) === 0), "doc_id", "text",
        idx, 1L)
      Lexical.postingsAppend(
        d.filter(pmod(col("doc_id"), lit(2)) === 1), "doc_id", "text",
        idx, 2L)
      val queries = d.filter(pmod(col("doc_id"), lit(97)) === 0)
        .select(col("doc_id").as("query_id"),
          slice(tokens(col("text")), 1, 3).as("terms"))
      Lexical.bm25SearchIndex(s, idx, queries, "query_id", "terms",
          k = 5)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- STREAMED postings ingest: the sparse-retrieval q137 --------
    // Documents arrive through the ACTUAL Structured-Streaming engine
    // (MemoryStream → foreachBatch → layer per micro-batch); the
    // at-rest index then answers the q140 search VERBATIM — posting
    // rows are per-doc pure, tf/df/N/T add, batch boundaries are
    // irrelevant.
    "q149_bm25_streamed" -> ((s, dir) => {
      import s.implicits._
      val d = t(s, dir, "documents")
      val mk = () => graft.SparkEntry.tmpDir("bm25_stream")
      val idx = mk()
      // test-scale collect: the sf corpus is the fixture feeding the
      // MemoryStream, not a production pattern
      val docs = d.select(col("doc_id").cast("long"), col("text"))
        .collect().map(r => (r.getLong(0), r.getString(1)))
      val ms = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, String)](s)
      val q = graft.streaming.LexicalStream.start(
        ms.toDF().toDF("doc_id", "text"),
        graft.streaming.LexicalStream.Config(idx, "doc_id", "text"),
        mk())
      ms.addData(docs.filter(_._1 % 2 == 0).toSeq)
      q.processAllAvailable()
      ms.addData(docs.filter(_._1 % 2 == 1).toSeq)
      q.processAllAvailable()
      q.stop()
      val queries = d.filter(pmod(col("doc_id"), lit(97)) === 0)
        .select(col("doc_id").as("query_id"),
          slice(tokens(col("text")), 1, 3).as("terms"))
      Lexical.bm25SearchIndex(s, idx, queries, "query_id", "terms",
          k = 5)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- HYBRID RETRIEVAL: BM25 ⊕ dense ranks via RRF ---------------
    // The q140 sparse ranks and the q121-style dense cosine ranks over
    // the SAME query docs (every 97th), fused by exact-integer
    // reciprocal rank (10⁸ div (60 + r)). The modern hybrid-search
    // composition — each side covers the other's misses. Self-hit
    // conventions differ by design: BM25 treats the query as a bag of
    // terms (the query doc can match itself), the dense side is
    // query-by-example (self excluded) — both replayed exactly.
    "q148_hybrid_rrf" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val (postings, doclens) =
        Lexical.buildPostings(d, "doc_id", "text")
      val queries = d.filter(pmod(col("doc_id"), lit(97)) === 0)
        .select(col("doc_id").as("query_id"),
          slice(tokens(col("text")), 1, 3).as("terms"))
      val sparse = Lexical.bm25Search(postings, doclens, queries,
          "query_id", "terms", k = 5)
        .select(col("query_id"), col("doc_id"), col("rank"))
      val emb = operators.Embed.hashEmbed(d, "doc_id", "text",
          dim = 32)
        .filter(graft.functions.VectorOps.vecDot(col("emb"), col("emb")) > 0)
      val dense = Ann.bruteForceTopK(
          emb.filter(pmod(col("doc_id"), lit(97)) === 0), emb,
          "doc_id", "emb", k = 5)
        .select(col("query_id"), col("neighbor_id").as("doc_id"),
          col("rank"))
      Lexical.rrfFuse(sparse, dense, k = 5)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- CONTRASTIVE TRIPLES: embedder training data ----------------
    // Positives from the q21 LSH near-dup machinery (threshold 0.25,
    // capped buckets); negatives from the deterministic hash ring —
    // reproducible (anchor, positive, negative) rows with no RNG.
    "q151_contrastive_triples" -> ((s, dir) => {
      operators.Embed.contrastiveTriples(t(s, dir, "documents"),
          "doc_id", "text", shingleN = 2, numPerm = 64, bands = 8,
          estThreshold = 0.25, maxBucketSize = 100)
        .orderBy(col("anchor"), col("positive"))
    }),

    // ---- HEAVY HITTERS: bounded-state top-k frequent tokens ---------
    // Exact top-C candidates (TakeOrdered, C=12) + CM-estimated
    // counts (4×256, the q108 sketch), top-5 by (est desc, item).
    // Oracle replays candidates, cells, probes, and the final rank.
    "q142_heavy_hitters" -> ((s, dir) => {
      graft.operators.Sketches.heavyHitters(t(s, dir, "documents"),
          "text", c = 12, k = 5, depth = 4, width = 256)
        .orderBy(col("rank"))
    }),

    // ---- PERSISTED heavy-hitter state: two folds, answer from the ----
    // index. Candidate layers union; CM layers add (== one-shot
    // sketch); the oracle replays the per-batch top-C sets.
    "q143_hh_incremental" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val idx = graft.SparkEntry.tmpDir("hh_idx")
      graft.operators.Sketches.heavyHittersAppend(
        d.filter(pmod(col("doc_id"), lit(2)) === 0), "text",
        c = 12, depth = 4, width = 256, idx, 1L)
      graft.operators.Sketches.heavyHittersAppend(
        d.filter(pmod(col("doc_id"), lit(2)) === 1), "text",
        c = 12, depth = 4, width = 256, idx, 2L)
      graft.operators.Sketches.heavyHittersFromIndex(s, idx, k = 5,
          depth = 4, width = 256)
        .orderBy(col("rank"))
    }),

    // ---- BOTTOM-K SAMPLE: a fixed-budget uniform corpus sample ------
    // The 20 docs with the smallest portable hash tags — exactly K
    // held no matter the corpus size (vs fraction sampling). Oracle
    // replays the tag + rank.
    "q144_bottomk_sample" -> ((s, dir) => {
      TextAnalysis.bottomKSample(t(s, dir, "documents"), "doc_id",
          k = 20)
        .orderBy(col("h"), col("doc_id"))
    }),

    // ---- PERSISTED sample state: two folds min-union to the same ----
    // bottom-K (every global minimum ranks <= K in its own batch) —
    // verbatim q144 oracle.
    "q145_bottomk_incremental" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val idx = graft.SparkEntry.tmpDir("bk_idx")
      TextAnalysis.bottomKAppend(
        d.filter(pmod(col("doc_id"), lit(2)) === 0), "doc_id", 20,
        idx, 1L)
      TextAnalysis.bottomKAppend(
        d.filter(pmod(col("doc_id"), lit(2)) === 1), "doc_id", 20,
        idx, 2L)
      TextAnalysis.bottomKFromIndex(s, idx, k = 20)
        .orderBy(col("h"), col("doc_id"))
    }),

    // ---- SAMPLE-TRAINED IVF-PQ: quantizers from id%2, encode all ----
    // The 100 TB practice — Lloyd's converges on a representative
    // sample; training passes scan half the corpus here (trainMod× in
    // general) while every vector is still encoded and searchable.
    // Oracle replays the sampled trainings + full encode + search.
    "q136_ivfpq_sampled" -> ((s, dir) => {
      val em = t(s, dir, "embeddings")
      val (coarse, cbs, codes) = Ann.ivfPqBuildSampled(em, "vec_id",
        "embedding", kc = 4, m = 4, k = 8, iters = 2, trainMod = 2L)
      Ann.ivfPqSearch(em.filter(pmod(col("vec_id"), lit(50)) === 0),
          codes, "vec_id", "embedding", coarse, cbs, nProbe = 2, k = 5)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- IVF-PQ with refinement: ADC top-R → exact re-rank ----------
    // The standard recall-recovery step: approximate distances pick 20
    // candidates per query, their TRUE vectors re-rank the top 5
    // exactly — quantization error only matters below the rerank
    // horizon. Oracle replays the whole chain plus the exact re-rank.
    "q131_ivfpq_refined" -> ((s, dir) => {
      val em = t(s, dir, "embeddings")
      val (coarse, cbs, codes) = Ann.ivfPqBuild(em, "vec_id", "embedding",
        kc = 4, m = 4, k = 8, iters = 2)
      Ann.ivfPqSearchRefined(em.filter(pmod(col("vec_id"), lit(50)) === 0),
          codes, em, "vec_id", "embedding", coarse, cbs, nProbe = 2,
          rerank = 20, k = 5)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- the retrieval vertical, end to end from RAW TEXT -----------
    // hashEmbed (32-dim signed counts) → IVF-PQ build (4 coarse lists,
    // 4×8 codes on residuals) → THREE index appends with a COMPACTION
    // between the second and third — the append-after-compact path
    // that silently destroyed the index before round 10's compact=
    // namespace fix — → partition-pruned ADC query. One oracle replays
    // embed, both trainings, encode, probes, and the ranking; any
    // compaction row loss or duplication shifts the top-k.
    "q122_text_retrieval" -> ((s, dir) => {
      val emb = operators.Embed.hashEmbed(
          t(s, dir, "documents"), "doc_id", "text", dim = 32)
        // one materialization: the build makes m·iters + encode passes
        // over the vectors; without this each re-runs the embed aggs
        .localCheckpoint(true)
      val (coarse, cbs, codes) = Ann.ivfPqBuild(emb, "doc_id", "emb",
        kc = 4, m = 4, k = 8, iters = 2)
      val idx = graft.SparkEntry.tmpDir("text_retr_idx")
      Ann.ivfPqIndexAppend(
        codes.filter(pmod(col("emb_id"), lit(3)) === 0), idx, 1L)
      Ann.ivfPqIndexAppend(
        codes.filter(pmod(col("emb_id"), lit(3)) === 1), idx, 2L)
      Ann.compactVectorIndex(s, idx, partitionCol = "coarse")
      Ann.ivfPqIndexAppend(
        codes.filter(pmod(col("emb_id"), lit(3)) === 2), idx, 3L)
      Ann.ivfPqIndexQuery(s, idx,
          emb.filter(pmod(col("doc_id"), lit(50)) === 0),
          "doc_id", "emb", coarse, cbs, nProbe = 2, k = 5)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- ANN recall@k: the metric that justifies index parameters ----
    // IVF-PQ (2 probes, 4×8 codes) scored against exact rounded-L2
    // ground truth per evaluation query. Oracle replays BOTH sides and
    // the per-query hit counts. NOTE the synthetic embeddings are
    // i.i.d. random — near-orthogonal, no cluster structure — which is
    // ANN's adversarial case, so absolute recall here is LOW by
    // construction (that is precisely what the harness is for: it
    // exposes when an index's parameters don't fit the data; PqSpec
    // shows the same index at recall 1.0 on separable data).
    "q115_ann_recall" -> ((s, dir) => {
      val em = t(s, dir, "embeddings")
      val (coarse, cbs, codes) = Ann.ivfPqBuild(em, "vec_id", "embedding",
        kc = 4, m = 4, k = 8, iters = 2)
      val queries = em.filter(pmod(col("vec_id"), lit(50)) === 0)
      val approx = Ann.ivfPqSearch(queries, codes, "vec_id", "embedding",
        coarse, cbs, nProbe = 2, k = 5)
      val exact = Ann.bruteForceTopKL2(queries, em, "vec_id", "embedding",
        k = 5)
      Ann.recallAtK(approx, exact, k = 5).orderBy(col("query_id"))
    }),

    // ---- k-NN classification eval: does the embedding carry label ----
    // structure? Held-out queries (vec_id % 50) labeled by the
    // majority of their 5 exact nearest neighbors from the rest.
    // Oracle replays distances, votes, and tie-breaks.
    "q147_knn_classify" -> ((s, dir) => {
      val em = t(s, dir, "embeddings")
      Ann.knnClassify(em.filter(pmod(col("vec_id"), lit(50)) === 0),
          em.filter(pmod(col("vec_id"), lit(50)) =!= 0),
          "vec_id", "embedding", "label", k = 5)
        .orderBy(col("query_id"))
    }),

    // ---- exact mixture rebalancing: hit a target language mix --------
    // en 50% / fr 20% / de 15% / es 10% / zh 5%, exact integer caps.
    "q96_mix_to_target" -> ((s, dir) => {
      TextAnalysis.mixToTarget(t(s, dir, "documents"), "doc_id", "lang",
          targetShare10k = Map("en" -> 5000L, "fr" -> 2000L,
            "de" -> 1500L, "es" -> 1000L, "zh" -> 500L))
        .select(col("doc_id"), col("lang"), col("mix_rank"))
        .orderBy(col("doc_id"))
    }),

    // ---- composed INCREMENTAL curation: the continuous-ingest story --
    // Build the three frozen/persisted states once (benchmark shingle
    // index, DSIR importance model, mixture index), then fold the
    // corpus in TWO batches — each fold costs O(batch): incremental
    // decontamination gate → incremental DSIR gate → mixture-index
    // append — and derive the final selection from the index alone.
    // One oracle over the whole chain: the one-shot replay of
    // decon → DSIR → mixture over the union. Any state leak between
    // folds, any index drift, any gate divergence shifts the kept set.
    "q110_incremental_curation" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val mk = () => graft.SparkEntry.tmpDir("curation_idx")
      val benchIdx = mk(); val dsirIdx = mk(); val mixIdx = mk()
      TextAnalysis.buildBenchmarkIndex(
        d.filter(pmod(col("doc_id"), lit(20)) === 0), "text",
        shingleN = 5, indexDir = benchIdx)
      TextAnalysis.buildDsirIndex(d, d.filter(col("lang") === "en"),
        "doc_id", "text", nBuckets = 65536, scale = 1000000L,
        indexDir = dsirIdx)
      val train = d.filter(pmod(col("doc_id"), lit(20)) =!= 0)
      // the same foldBatch the Structured Streaming front end runs
      // per micro-batch (streaming/CurationStream); the DSIR cut is a
      // TOP-FRACTION over the persisted score index (importance
      // resampling selects by rank — an absolute score threshold does
      // not survive a corpus change)
      val cfg = graft.streaming.CurationStream.Config(
        benchIdx, dsirIdx, mixIdx, "doc_id", "text", "lang",
        keepFrac10k = 4000L)
      graft.streaming.CurationStream.foldBatch(
        train.filter(pmod(col("doc_id"), lit(2)) === 1), 1L, cfg)
      graft.streaming.CurationStream.foldBatch(
        train.filter(pmod(col("doc_id"), lit(2)) === 0), 2L, cfg)
      // en-heavy targets: the DSIR cut (target = en) skews the
      // survivor mix by design, so the final mixture asks for the
      // shape the cut produces
      graft.streaming.CurationStream.select(s, cfg,
          targetShare10k = Map("en" -> 8000L, "es" -> 1500L,
            "de" -> 500L))
        .orderBy(col("doc_id"))
    }),

    // ---- the FULL curation recipe, incrementally folded --------------
    // q110's chain grown to the production shape (Lee et al. 2022 +
    // RefinedWeb): decon gate → duplicated-SPAN gate (drop docs >50%
    // shared 8-token windows) → near-dup REPRESENTATIVE gate
    // (MinHash-LSH clusters keep their best member) → DSIR
    // top-fraction → exact mixture. Folded in TWO batches, every gate
    // decision derived from persisted index state at select time —
    // which is exactly what makes the fold equal the one-shot replay
    // regardless of batch boundaries (the oracle IS that one-shot).
    "q126_curation_full" -> ((s, dir) => {
      graft.streaming.CurationStream.select(s,
          curationFixture(s, dir), CurationTargets)
        .orderBy(col("doc_id"))
    }),

    // ---- the FULL recipe with the BLOOM decon gate: the q126 chain,
    // but the benchmark state is two folded bloom layers instead of
    // the exact shingle-hash index — the gate's broadcast stays ≤ m
    // bits no matter how many eval sets fold in, and everything the
    // exact gate drops, this drops too (plus false positives at the
    // bloom's rate, replayed exactly by the oracle).
    "q146_curation_bloom" -> ((s, dir) => {
      graft.streaming.CurationStream.select(s,
          curationFixture(s, dir, deconBloom = true), CurationTargets)
        .orderBy(col("doc_id"))
    }),

    // ---- RELEASE MANIFEST: the engine's final artifact map ----------
    // Curation selection (the q126 chain) → leakage-free split
    // assignment (q113 semantics over the SELECTED set) → epoch-0
    // round-robin sharding of the train split (q134 semantics).
    // One row per released doc: (doc_id, lang, split, shard) with
    // shard = -1 off the train split — what a pretraining run reads
    // to know exactly which doc goes where, reproducibly on any
    // engine. One oracle over the whole chain.
    "q150_release_manifest" -> ((s, dir) => {
      val selected = graft.streaming.CurationStream.select(s,
        curationFixture(s, dir), CurationTargets)
      val withSplit = TextAnalysis.assignSplit(selected, "doc_id",
        splits = Seq(("train", 8000L), ("val", 1000L),
          ("test", 1000L)))
      val sharded = TextAnalysis.shardAssign(
        withSplit.filter(col("split") === "train"), "doc_id",
        numShards = 4)
      withSplit
        .join(sharded.select(col("doc_id"), col("shard")),
          Seq("doc_id"), "left")
        .select(col("doc_id"), col("lang"), col("split"),
          coalesce(col("shard"), lit(-1L)).as("shard"))
        .orderBy(col("doc_id"))
    }),

    // ---- the same FULL chain driven through the ACTUAL Structured
    // Streaming front end: a MemoryStream feeds CurationStream.start,
    // micro-batches fold via foreachBatch (batch ids become layer
    // ids), then the selection derives from the indexes — under the
    // SAME one-shot oracle as q126. This is the claim "micro-batch
    // boundaries are irrelevant" checked by the real streaming engine,
    // not a batch stand-in.
    "q127_curation_streamed" -> ((s, dir) => {
      import s.implicits._
      val d = t(s, dir, "documents")
      val cfg = curationFixture(s, dir, fold = false)
      // test-scale collect: the sf corpus is the fixture feeding the
      // MemoryStream, not a production pattern
      val train = d.filter(pmod(col("doc_id"), lit(20)) =!= 0)
        .select(col("doc_id").cast("long"), col("text"), col("lang"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      val ms = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, String, String)](s)
      val q = graft.streaming.CurationStream.start(
        ms.toDF().toDF("doc_id", "text", "lang"), cfg,
        tmpDir("curation_ck"))
      ms.addData(train.filter(_._1 % 2 == 1).toSeq)
      q.processAllAvailable()
      ms.addData(train.filter(_._1 % 2 == 0).toSeq)
      q.processAllAvailable()
      q.stop()
      graft.streaming.CurationStream.select(s, cfg, CurationTargets)
        .orderBy(col("doc_id"))
    }),

    // ---- the curation FUNNEL: per-stage counts off the full chain ---
    // Same folds as q126; the report is the observability surface a
    // production pipeline alarms on (a gate suddenly eating 40% of a
    // batch is a data bug long before eval notices).
    "q135_curation_report" -> ((s, dir) => {
      graft.streaming.CurationStream.selectReport(s,
          curationFixture(s, dir), CurationTargets)
        .orderBy(col("stage"))
    }),

    // ---- persisted-index mixture: two ingest folds, one selection ----
    // Append the corpus in two batches to the skinny mixture index
    // (doc_id, stratum, frozen hash), then re-derive the selection from
    // the index alone — must equal the one-shot q96 result (verbatim
    // oracle). The 100 TB property: the re-selection never touches the
    // text column, only the index.
    "q105_mix_incremental" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val idx = graft.SparkEntry.tmpDir("mix_idx")
      TextAnalysis.mixIndexAppend(
        d.filter(pmod(col("doc_id"), lit(2)) === 0), "doc_id", "lang",
        idx, 1L)
      TextAnalysis.mixIndexAppend(
        d.filter(pmod(col("doc_id"), lit(2)) === 1), "doc_id", "lang",
        idx, 2L)
      TextAnalysis.mixSelectFromIndex(s, idx, "lang",
          targetShare10k = Map("en" -> 5000L, "fr" -> 2000L,
            "de" -> 1500L, "es" -> 1000L, "zh" -> 500L))
        .orderBy(col("doc_id"))
    }),

    // ---- corpus-frequency BOILERPLATE removal (RefinedWeb repeated-
    // line rule on token windows): 3-token windows appearing in MORE
    // than 5 distinct docs are template chrome — cut from every doc.
    "q152_cut_boilerplate" -> ((s, dir) => {
      Dedup.cutBoilerplate(
          t(s, dir, "documents")
            .withColumn("doc_id", col("doc_id").cast("long")),
          "doc_id", "text", windowTokens = 3, minDf = 5L)
        .orderBy(col("doc_id"))
    }),

    // ---- PERSISTED boilerplate-frequency state: two doc-disjoint ----
    // folds write per-batch distinct-df partials (they ADD across
    // disjoint batches), the cut reads the summed index — verbatim
    // q152 oracle.
    "q153_boilerplate_incremental" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .withColumn("doc_id", col("doc_id").cast("long"))
      val idx = graft.SparkEntry.tmpDir("bp_idx")
      Dedup.boilerplateIndexAppend(
        d.filter(pmod(col("doc_id"), lit(2)) === 0), "doc_id", "text",
        windowTokens = 3, idx, 1L)
      Dedup.boilerplateIndexAppend(
        d.filter(pmod(col("doc_id"), lit(2)) === 1), "doc_id", "text",
        windowTokens = 3, idx, 2L)
      Dedup.cutBoilerplateFromIndex(s, idx, d, "doc_id", "text",
          windowTokens = 3, minDf = 5L)
        .orderBy(col("doc_id"))
    }),

    // ---- BPE DECODE round-trip: the tokenizer lifecycle closes ------
    // Mark word boundaries (the SentencePiece ▁ convention), train,
    // build the id vocab, encode to ids, decode BACK — the oracle is
    // simply the whitespace-normalized source text, so a defect
    // anywhere in train/vocab/encode/decode breaks the hash.
    "q154_bpe_decode" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"),
          TextAnalysis.markWords(col("text")).as("text"))
      val merges = TextAnalysis.bpeTrain(d, "text", numMerges = 30)
        .orderBy(col("step")).collect()
        .map(r => r.getAs[String]("left") -> r.getAs[String]("right")).toSeq
      val vocab = TextAnalysis.bpeVocab(d, "text", merges)
      val enc = TextAnalysis.bpeEncodeIds(d, "doc_id", "text", merges,
        vocab)
      TextAnalysis.bpeDecode(enc, vocab).orderBy(col("doc_id"))
    }),

    // ---- INT8-quantized brute-force search: the 4×-smaller scan -----
    // Per-vector symmetric floor quantization packed to a byte per
    // dim, exact integer dots over the packed binaries (native
    // codegen'd expression), q23's query set and ranking convention.
    "q155_quantized_search" -> ((s, dir) => {
      val em = t(s, dir, "embeddings")
      Ann.quantizedTopK(em.filter(col("vec_id") < 8), em,
          "vec_id", "embedding", k = 5)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- temperature-balanced mixture (τ = 1/2, the mT5 rule) -------
    // Source weights = floor(sqrt(source token count)) — exact-integer
    // caps from a 120-doc budget, deterministic per-source hash-rank
    // selection.
    "q156_temperature_mix" -> ((s, dir) => {
      TextAnalysis.temperatureMix(t(s, dir, "documents"), "doc_id",
          "source", "text", budgetDocs = 120L)
        .select(col("doc_id"), col("source"), col("mix_rank"))
        .orderBy(col("doc_id"))
    }),

    // ---- composite QUALITY FUNNEL (Gopher/C4 heuristic rules) -------
    // Per-doc rule booleans + the conjunction: length, mean token
    // length, stopword ratio (exact-integer compares), the q77
    // repetition thresholds, and the q45 lang-id gate. Thresholds
    // chosen to discriminate on this corpus (not all-pass).
    "q157_quality_funnel" -> ((s, dir) => {
      TextAnalysis.qualityFunnel(
          t(s, dir, "documents")
            .withColumn("doc_id", col("doc_id").cast("long")),
          "doc_id", "text", langs = Seq("en"),
          minTokens = 20L, maxStop10k = 1500L, minAvgLen10 = 39L)
        .orderBy(col("doc_id"))
    }),

    // ---- per-stratum quality percentile cut (FineWeb per-dump shape):
    // within each source keep the top 40% by the q94 LM quality score
    // — a global cut would let one high-scoring source crowd out the
    // rest.
    "q158_stratified_quality" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val scored = TextAnalysis.lmQualityScore(d, "doc_id", "text",
          headMin = 0.0334, midMin = 0.0333)
        .select(col("doc_id"), col("mean_rel_freq"))
      TextAnalysis.stratifiedQualityCut(
          d.select(col("doc_id"), col("source"))
            .join(scored, Seq("doc_id")),
          "doc_id", "source", "mean_rel_freq", keepFrac10k = 4000L)
        .select(col("doc_id"), col("source"), col("q_rank"))
        .orderBy(col("doc_id"))
    }),

    // ---- IVF-SQ8: cluster-pruned search over int8 codes -------------
    // q78's probe convention (own label + the next, wrapped) with the
    // q155 quantized-cosine scoring — the probed-list byte-per-dim scan.
    "q159_ivf_sq8" -> ((s, dir) => {
      val em = t(s, dir, "embeddings")
      val nLabels = em.agg(max(col("label"))).head.getInt(0) + 1
      val qs = em.filter(col("vec_id") < 8)
        .withColumn("probes", array(col("label").cast("long"),
          pmod(col("label") + 1, lit(nLabels)).cast("long")))
      Ann.ivfQuantizedTopK(qs, em, "vec_id", "embedding", "label",
          "probes", k = 3)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- PERSISTED IVF-SQ8 index: two appended code layers + a ------
    // compaction, then the pruned quantized query — per-vector codes
    // are batching-independent, so the result equals the in-memory
    // q159 search (verbatim oracle), compaction included.
    "q160_sq8_persisted" -> ((s, dir) => {
      val em = t(s, dir, "embeddings")
      val nLabels = em.agg(max(col("label"))).head.getInt(0) + 1
      val idx = graft.SparkEntry.tmpDir("sq8_idx")
      Ann.sq8IndexAppend(em.filter(pmod(col("vec_id"), lit(2)) === 0),
        "vec_id", "embedding", col("label"), idx, 1L)
      Ann.sq8IndexAppend(em.filter(pmod(col("vec_id"), lit(2)) === 1),
        "vec_id", "embedding", col("label"), idx, 2L)
      Ann.compactVectorIndex(s, idx, partitionCol = "cluster")
      val qs = em.filter(col("vec_id") < 8)
        .withColumn("probes", array(col("label").cast("long"),
          pmod(col("label") + 1, lit(nLabels)).cast("long")))
      Ann.sq8IndexQuery(s, idx, qs, "vec_id", "embedding", "probes",
          k = 3)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- the FULL recipe with the QUALITY FUNNEL run first: the ----
    // q126 chain gains the cheapest gate in the production order
    // (per-row heuristics before any stateful gate); the funnel is
    // per-doc pure so batch folds still equal the one-shot replay.
    "q162_curation_funnel_gated" -> ((s, dir) => {
      graft.streaming.CurationStream.select(s,
          curationFixture(s, dir, funnel = true), CurationTargets)
        .orderBy(col("doc_id"))
    }),

    // ---- sliding-window chunking: the RAG-ingestion primitive ------
    // 16-token windows, stride 12 (25% overlap); exact integer start
    // arithmetic — chunk counts, offsets, and texts all replay.
    "q163_chunk_windows" -> ((s, dir) => {
      TextAnalysis.chunkWindows(
          t(s, dir, "documents")
            .withColumn("doc_id", col("doc_id").cast("long")),
          "doc_id", "text", windowTokens = 16, strideTokens = 12)
        .orderBy(col("doc_id"), col("chunk_idx"))
    }),

    // ---- the RAG vertical: chunk → hash-embed → persisted SQ8 ------
    // index (two appends) → pruned quantized query, ONE oracle over
    // the whole chain — the retrieval-ingestion recipe a RAG corpus
    // ships, with every stage exact-replayable (chunk offsets,
    // signed-bucket embedding, floor quantization, modular coarse
    // clusters, integer-dot cosine).
    "q164_rag_vertical" -> ((s, dir) => {
      import graft.streaming.RagStream
      val d = t(s, dir, "documents")
        .withColumn("doc_id", col("doc_id").cast("long"))
      val cfg = RagStream.Config(graft.SparkEntry.tmpDir("rag_sq8"), "doc_id", "text")
      RagStream.foldBatch(
        d.filter(pmod(col("doc_id"), lit(2)) === 0), 1L, cfg)
      RagStream.foldBatch(
        d.filter(pmod(col("doc_id"), lit(2)) === 1), 2L, cfg)
      // the %5000 filter is on CHUNK ids (chunk_id = doc_id·100 +
      // chunk_idx, chunk_idx < 100): 100·d + i ≡ 0 (mod 5000) forces
      // i = 0 and d ≡ 0 (mod 50) — so prefiltering DOCS 50× shrinks
      // the query-side encode (a corpus-wide chunk+embed pass) to 2%
      // with the chunk-level filter kept as the exactness guard (the
      // round-16 q195 pattern)
      val qs = RagStream.encodeBatch(
          d.filter(pmod(col("doc_id"), lit(50L)) === 0), cfg)
        .filter(pmod(col("doc_id"), lit(5000L)) === 0)
        .withColumn("probes", array(pmod(col("doc_id"), lit(4L)),
          pmod(col("doc_id") + 1L, lit(4L))))
      Ann.sq8IndexQuery(s, cfg.indexDir, qs, "doc_id", "emb", "probes",
          k = 3)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- the SAME RAG chain through the ACTUAL streaming engine ----
    // (a MemoryStream feeds RagStream.start; micro-batch ids become
    // layer ids), answered from the streamed index under q164's
    // verbatim oracle — chunking is per-doc pure, embedding per-chunk
    // pure, quantization per-vector, so micro-batch boundaries are
    // provably irrelevant.
    "q165_rag_streamed" -> ((s, dir) => {
      import s.implicits._
      import graft.streaming.RagStream
      val d = t(s, dir, "documents")
        .withColumn("doc_id", col("doc_id").cast("long"))
      val cfg = RagStream.Config(graft.SparkEntry.tmpDir("rag_sq8_stream"), "doc_id", "text")
      // test-scale collect: the sf corpus is the fixture feeding the
      // MemoryStream, not a production pattern
      val rows = d.select(col("doc_id"), col("text"))
        .collect().map(r => (r.getLong(0), r.getString(1)))
      val ms = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, String)](s)
      val q = RagStream.start(ms.toDF().toDF("doc_id", "text"), cfg,
        graft.SparkEntry.tmpDir("rag_ck"))
      ms.addData(rows.filter(_._1 % 2 == 0).toSeq)
      q.processAllAvailable()
      ms.addData(rows.filter(_._1 % 2 == 1).toSeq)
      q.processAllAvailable()
      q.stop()
      // the %5000 filter is on CHUNK ids (chunk_id = doc_id·100 +
      // chunk_idx, chunk_idx < 100): 100·d + i ≡ 0 (mod 5000) forces
      // i = 0 and d ≡ 0 (mod 50) — so prefiltering DOCS 50× shrinks
      // the query-side encode (a corpus-wide chunk+embed pass) to 2%
      // with the chunk-level filter kept as the exactness guard (the
      // round-16 q195 pattern)
      val qs = RagStream.encodeBatch(
          d.filter(pmod(col("doc_id"), lit(50L)) === 0), cfg)
        .filter(pmod(col("doc_id"), lit(5000L)) === 0)
        .withColumn("probes", array(pmod(col("doc_id"), lit(4L)),
          pmod(col("doc_id") + 1L, lit(4L))))
      Ann.sq8IndexQuery(s, cfg.indexDir, qs, "doc_id", "emb", "probes",
          k = 3)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- release DIFF: the dataset-versioning audit -----------------
    // Manifest A = splits+shards over the first half of the corpus,
    // B = over all of it. The hash-range splits guarantee ZERO
    // split_moved rows under growth (the leakage audit); shards DO
    // move (rank layout) — both replayed exactly.
    "q166_release_diff" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .withColumn("doc_id", col("doc_id").cast("long"))
      def manifest(docs: org.apache.spark.sql.DataFrame) = {
        val withSplit = TextAnalysis.assignSplit(docs, "doc_id",
          splits = Seq(("train", 8000L), ("val", 1000L),
            ("test", 1000L)))
        val sharded = TextAnalysis.shardAssign(
          withSplit.filter(col("split") === "train"), "doc_id",
          numShards = 4)
        withSplit
          .join(sharded.select(col("doc_id"), col("shard")),
            Seq("doc_id"), "left")
          .select(col("doc_id"), col("split"),
            coalesce(col("shard"), lit(-1L)).as("shard"))
      }
      TextAnalysis.releaseDiff(
          manifest(d.filter(col("doc_id") < 250)), manifest(d))
        .orderBy(col("doc_id"))
    }),

    // ---- quantization RECALL eval: measure, don't guess -------------
    // recall@5 of the int8-quantized cosine scan (q155) against the
    // exact float cosine top-5 (q23's query set) — the metric that
    // justifies shipping byte codes for the rerank tier.
    "q167_sq8_recall" -> ((s, dir) => {
      val em = t(s, dir, "embeddings")
      val qs = em.filter(col("vec_id") < 8)
      Ann.recallAtK(
          Ann.quantizedTopK(qs, em, "vec_id", "embedding", k = 5),
          Ann.bruteForceTopK(qs, em, "vec_id", "embedding", k = 5),
          k = 5)
        .orderBy(col("query_id"))
    }),

    // ---- release DATASHEET: per (split, lang) doc + token counts ----
    // over the q113-style manifest — the model-card numbers.
    "q168_release_report" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .withColumn("doc_id", col("doc_id").cast("long"))
      val manifest = TextAnalysis.assignSplit(d, "doc_id",
          splits = Seq(("train", 8000L), ("val", 1000L),
            ("test", 1000L)))
        .select("doc_id", "split")
      TextAnalysis.releaseReport(manifest, d, "doc_id", "lang", "text")
        .orderBy(col("split"), col("stratum"))
    }),

    // ---- per-rule funnel drop counts: the gate's alarm surface ------
    "q169_funnel_report" -> ((s, dir) => {
      TextAnalysis.qualityFunnelReport(
          t(s, dir, "documents")
            .withColumn("doc_id", col("doc_id").cast("long")),
          "doc_id", "text", langs = Seq("en"),
          minTokens = 20L, maxStop10k = 1500L, minAvgLen10 = 39L)
        .orderBy(col("rule"))
    }),

    // ---- tokenizer artifact round-trip: train → SAVE → LOAD → encode
    // — the frozen at-rest tokenizer (the production vocab.json/
    // merges.txt pair as parquet) must encode bit-identically to the
    // in-memory one (verbatim q107 oracle).
    "q161_tokenizer_artifact" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val trained = TextAnalysis.bpeTrain(d, "text", numMerges = 20)
      val mergesSeq = trained.orderBy(col("step")).collect()
        .map(r => r.getAs[String]("left") -> r.getAs[String]("right")).toSeq
      val tokDir = graft.SparkEntry.tmpDir("tok_artifact")
      TextAnalysis.saveTokenizer(trained,
        TextAnalysis.bpeVocab(d, "text", mergesSeq), tokDir)
      val (merges, vocab) = TextAnalysis.loadTokenizer(s, tokDir)
      TextAnalysis.bpeEncodeIds(d, "doc_id", "text", merges, vocab)
        .orderBy(col("doc_id"), col("pos"))
    }),

    // ---- RAG over TRAINED frozen centroids: the production shape ----
    // Coarse centroids trained ONCE on batch 1's chunk embeddings
    // (sampled chunk_id % 2 — the q136 pattern), FROZEN, then both
    // folds assign chunks by rounded-cosine argmax and queries probe
    // their 2 nearest centroids — geometric locality instead of q164's
    // modular stand-in. Oracle replays the Lloyd's training (q90's
    // pattern), the frozen assignment, and the pruned quantized rank.
    "q170_rag_trained" -> ((s, dir) => {
      import graft.streaming.RagStream
      val d = t(s, dir, "documents")
        .withColumn("doc_id", col("doc_id").cast("long"))
      val cfg0 = RagStream.Config(graft.SparkEntry.tmpDir("rag_trained"), "doc_id", "text")
      val b1 = d.filter(pmod(col("doc_id"), lit(2)) === 0)
      val b2 = d.filter(pmod(col("doc_id"), lit(2)) === 1)
      val cents = Ann.ivfTrainPortable(
        RagStream.encodeBatch(b1, cfg0)
          .filter(pmod(col("doc_id"), lit(2)) === 0),
        "doc_id", "emb", k = 4, iters = 2)
      val cfg = cfg0.copy(centroids = Some(cents))
      RagStream.foldBatch(b1, 1L, cfg)
      RagStream.foldBatch(b2, 2L, cfg)
      // the %5000 filter is on CHUNK ids (chunk_id = doc_id·100 +
      // chunk_idx, chunk_idx < 100): 100·d + i ≡ 0 (mod 5000) forces
      // i = 0 and d ≡ 0 (mod 50) — so prefiltering DOCS 50× shrinks
      // the query-side encode (a corpus-wide chunk+embed pass) to 2%
      // with the chunk-level filter kept as the exactness guard (the
      // round-16 q195 pattern)
      val qs = RagStream.encodeBatch(
          d.filter(pmod(col("doc_id"), lit(50L)) === 0), cfg)
        .filter(pmod(col("doc_id"), lit(5000L)) === 0)
        .withColumn("probes", RagStream.probesOf(cfg, nProbe = 2))
      Ann.sq8IndexQuery(s, cfg.indexDir, qs, "doc_id", "emb", "probes",
          k = 3)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- CHAIN-level recall of the trained-RAG retrieval: measure --
    // the chunk→probe chain against exact float-cosine ground truth
    // over the same chunks — q167's metric applied to the whole
    // vertical, the proof probed-cluster pruning actually retrieves.
    "q171_rag_trained_recall" -> ((s, dir) => {
      import graft.streaming.RagStream
      val d = t(s, dir, "documents")
        .withColumn("doc_id", col("doc_id").cast("long"))
      val cfg0 = RagStream.Config(graft.SparkEntry.tmpDir("rag_trained_rec"), "doc_id", "text")
      val b1 = d.filter(pmod(col("doc_id"), lit(2)) === 0)
      val b2 = d.filter(pmod(col("doc_id"), lit(2)) === 1)
      val cents = Ann.ivfTrainPortable(
        RagStream.encodeBatch(b1, cfg0)
          .filter(pmod(col("doc_id"), lit(2)) === 0),
        "doc_id", "emb", k = 4, iters = 2)
      val cfg = cfg0.copy(centroids = Some(cents))
      RagStream.foldBatch(b1, 1L, cfg)
      RagStream.foldBatch(b2, 2L, cfg)
      val chunks = RagStream.encodeBatch(d, cfg)
      val qs = chunks.filter(pmod(col("doc_id"), lit(5000L)) === 0)
        .withColumn("probes", RagStream.probesOf(cfg, nProbe = 2))
      val approx = Ann.sq8IndexQuery(s, cfg.indexDir, qs, "doc_id",
        "emb", "probes", k = 3)
      val exact = Ann.bruteForceTopK(qs.drop("probes"), chunks,
        "doc_id", "emb", k = 3)
      Ann.recallAtK(approx, exact, k = 3).orderBy(col("query_id"))
    }),

    // ---- compaction INSIDE the RAG chain: fold → compact → fold → --
    // query equals the one-shot build (the q122 shape for SQ8) under
    // q164's verbatim oracle — small-files maintenance is provably
    // invisible to the retrieval answer mid-ingest, not just at rest.
    "q172_rag_compacted" -> ((s, dir) => {
      import graft.streaming.RagStream
      val d = t(s, dir, "documents")
        .withColumn("doc_id", col("doc_id").cast("long"))
      val cfg = RagStream.Config(graft.SparkEntry.tmpDir("rag_sq8_comp"), "doc_id", "text")
      RagStream.foldBatch(
        d.filter(pmod(col("doc_id"), lit(2)) === 0), 1L, cfg)
      Ann.compactVectorIndex(s, cfg.indexDir, partitionCol = "cluster")
      RagStream.foldBatch(
        d.filter(pmod(col("doc_id"), lit(2)) === 1), 2L, cfg)
      // the %5000 filter is on CHUNK ids (chunk_id = doc_id·100 +
      // chunk_idx, chunk_idx < 100): 100·d + i ≡ 0 (mod 5000) forces
      // i = 0 and d ≡ 0 (mod 50) — so prefiltering DOCS 50× shrinks
      // the query-side encode (a corpus-wide chunk+embed pass) to 2%
      // with the chunk-level filter kept as the exactness guard (the
      // round-16 q195 pattern)
      val qs = RagStream.encodeBatch(
          d.filter(pmod(col("doc_id"), lit(50L)) === 0), cfg)
        .filter(pmod(col("doc_id"), lit(5000L)) === 0)
        .withColumn("probes", array(pmod(col("doc_id"), lit(4L)),
          pmod(col("doc_id") + 1L, lit(4L))))
      Ann.sq8IndexQuery(s, cfg.indexDir, qs, "doc_id", "emb", "probes",
          k = 3)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- LINE-level cleaning (RefinedWeb line-wise rules): the -----
    // per-document complement of q152's corpus-frequency cut. The
    // corpus has no newlines, so the lane builds deterministic
    // multi-line pages (nav chrome + body + share stub + duplicated
    // body + footer — every rule has real prey) identically in both
    // engines, the q89 synthesize-in-query convention.
    "q173_clean_lines" -> ((s, dir) => {
      TextAnalysis.cleanLines(linePages(t(s, dir, "documents")),
          "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // ---- per-rule removed-line counts: the line cleaner's alarm ----
    "q174_line_report" -> ((s, dir) => {
      TextAnalysis.cleanLinesReport(linePages(t(s, dir, "documents")),
          "doc_id", "text")
        .orderBy(col("rule"))
    }),

    // ---- multimodal: REAL multi-frame codec — GIF sequences --------
    // Deterministic multi-frame GIFs generated per event (dims, frame
    // count, and each frame's solid gray are pure functions of
    // event_id), decoded through the REAL javax.imageio GIF reader on
    // the q83 mapPartitions seam. The oracle predicts frame count and
    // the dominant cross-frame luminance bin (integer frame-count
    // argmax, lowest bin breaking ties) from event_id alone — frame
    // ENUMERATION and per-frame pixel decode both have to be right.
    "q176_gif_frames" -> ((s, dir) => {
      import s.implicits._
      val media = eventsUs(s, dir)
        .filter(pmod(col("event_id"), lit(50)) === 0)
        .select(col("event_id").cast("long").as("media_id"),
          (lit(8) + pmod(col("event_id"), lit(16))).cast("int").as("w"),
          (lit(8) + pmod(col("event_id"), lit(5))).cast("int").as("h"),
          (lit(1) + pmod(col("event_id"), lit(4))).cast("int").as("nf"),
          pmod(col("event_id"), lit(256)).cast("int").as("g"))
        .as[(Long, Int, Int, Int, Int)]
        .map { case (id, w, h, nf, g) => Multimodal.MediaRow(
          id, "video", Multimodal.encodeGif(w, h,
            (0 until nf).map(f => (g + 17 * f) % 256)), "image/gif") }
      Multimodal
        .decodeFeatures(media, Multimodal.GifCodec, parallelism = Some(8))
        .toDF()
        .select(col("media_id"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("n_frames").cast("long").as("n_frames"),
          (array_position(col("feature"), array_max(col("feature"))) - 1)
            .cast("long").as("top_bin"))
        .orderBy(col("media_id"))
    }),

    // ---- PERSISTED temperature-mix state: two doc-disjoint folds ---
    // write skinny (id, stratum, hash, token-count) rows; τ=½
    // re-balancing re-derives caps from the summed index — O(index)
    // after new ingest — and equals the one-shot q156 selection
    // (verbatim oracle).
    "q175_temperature_incremental" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val idx = graft.SparkEntry.tmpDir("tmix_idx")
      TextAnalysis.tempMixIndexAppend(
        d.filter(pmod(col("doc_id"), lit(2)) === 0), "doc_id", "source",
        "text", idx, 1L)
      TextAnalysis.tempMixIndexAppend(
        d.filter(pmod(col("doc_id"), lit(2)) === 1), "doc_id", "source",
        "text", idx, 2L)
      TextAnalysis.temperatureMixFromIndex(s, idx, "source",
          budgetDocs = 120L)
        .select(col("doc_id"), col("source"), col("mix_rank"))
        .orderBy(col("doc_id"))
    }),

    // ---- FUNNEL-GATED RAG ingest: the q157 quality gate applied ----
    // BEFORE chunking (the q162 production order on this vertical) —
    // boilerplate/off-language docs never cost chunk, embed, or index
    // bytes; queries run over the gated chunk set.
    "q177_rag_gated" -> ((s, dir) => {
      import graft.streaming.RagStream
      val d = t(s, dir, "documents")
        .withColumn("doc_id", col("doc_id").cast("long"))
      val cfg = RagStream.Config(
        graft.SparkEntry.tmpDir("rag_gated"), "doc_id", "text",
        funnel = Some(RagStream.Funnel(langs = Seq("en"),
          minTokens = 20L, maxStop10k = 1500L, minAvgLen10 = 39L)))
      RagStream.foldBatch(
        d.filter(pmod(col("doc_id"), lit(2)) === 0), 1L, cfg)
      RagStream.foldBatch(
        d.filter(pmod(col("doc_id"), lit(2)) === 1), 2L, cfg)
      // chunk-id algebra as the q164 lanes: 100·d + i ≡ 0 (mod 2000)
      // forces i = 0 and d ≡ 0 (mod 20) — docs prefilter 20×, the
      // chunk-level filter stays as the exactness guard
      val qs = RagStream.encodeBatch(
          d.filter(pmod(col("doc_id"), lit(20L)) === 0), cfg)
        .filter(pmod(col("doc_id"), lit(2000L)) === 0)
        .withColumn("probes", array(pmod(col("doc_id"), lit(4L)),
          pmod(col("doc_id") + 1L, lit(4L))))
      Ann.sq8IndexQuery(s, cfg.indexDir, qs, "doc_id", "emb", "probes",
          k = 3)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- TOMBSTONE DELETE in the persisted vector index: the -------
    // right-to-be-forgotten path. Fold evens → delete %3==0 → fold
    // odds → query: even multiples of 3 stop being retrievable; odd
    // multiples of 3 arrive AFTER the delete and must survive (the
    // tombstone's upto bound kills the past, not the future).
    "q178_vector_delete" -> ((s, dir) => {
      val em = t(s, dir, "embeddings")
      val nLabels = em.agg(max(col("label"))).head.getInt(0) + 1
      val idx = graft.SparkEntry.tmpDir("sq8_del")
      Ann.sq8IndexAppend(em.filter(pmod(col("vec_id"), lit(2)) === 0),
        "vec_id", "embedding", col("label"), idx, 1L)
      Ann.deleteFromVectorIndex(s, idx,
        em.filter(pmod(col("vec_id"), lit(3)) === 0).select("vec_id"),
        "vec_id")
      Ann.sq8IndexAppend(em.filter(pmod(col("vec_id"), lit(2)) === 1),
        "vec_id", "embedding", col("label"), idx, 2L)
      val qs = em.filter(col("vec_id") < 8)
        .withColumn("probes", array(col("label").cast("long"),
          pmod(col("label") + 1, lit(nLabels)).cast("long")))
      Ann.sq8IndexQuery(s, idx, qs, "vec_id", "embedding", "probes",
          k = 3)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- delete → COMPACT (physical erasure) → append → delete -----
    // again: the first tombstone is applied and dropped by the
    // rewrite; the second must reach BOTH the compact layer (rows
    // effective at the absorbed high-water) and the fresh batch.
    "q179_delete_compacted" -> ((s, dir) => {
      val em = t(s, dir, "embeddings")
      val nLabels = em.agg(max(col("label"))).head.getInt(0) + 1
      val idx = graft.SparkEntry.tmpDir("sq8_del_comp")
      Ann.sq8IndexAppend(em.filter(pmod(col("vec_id"), lit(2)) === 0),
        "vec_id", "embedding", col("label"), idx, 1L)
      Ann.deleteFromVectorIndex(s, idx,
        em.filter(pmod(col("vec_id"), lit(3)) === 0).select("vec_id"),
        "vec_id")
      Ann.compactVectorIndex(s, idx, partitionCol = "cluster")
      Ann.sq8IndexAppend(em.filter(pmod(col("vec_id"), lit(2)) === 1),
        "vec_id", "embedding", col("label"), idx, 2L)
      Ann.deleteFromVectorIndex(s, idx,
        em.filter(pmod(col("vec_id"), lit(5)) === 1).select("vec_id"),
        "vec_id")
      val qs = em.filter(col("vec_id") < 8)
        .withColumn("probes", array(col("label").cast("long"),
          pmod(col("label") + 1, lit(nLabels)).cast("long")))
      Ann.sq8IndexQuery(s, idx, qs, "vec_id", "embedding", "probes",
          k = 3)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- LSH candidate-quality eval: precision/recall of the -------
    // production MinHash-LSH pair candidates (q21's full-corpus run,
    // bucket caps included) against exact bigram-Jaccard ground truth
    // on the doc_id < 400 labeled subset (q20's bound) — the number
    // that justifies a (numPerm, bands, cap) setting before 100 TB
    // trusts it.
    "q180_lsh_eval" -> ((s, dir) => {
      Dedup.lshEval(t(s, dir, "documents"), "doc_id", "text",
        evalPred = _ < 400, shingleN = 2, numPerm = 64, bands = 8,
        threshold = 0.3, maxBucketSize = 100)
    }),

    // ---- tokenizer coverage audit: per-source merged-piece ratio ----
    // of the trained 20-merge table — the release gate that catches a
    // vocabulary silently degrading to char-level on an unseen domain.
    "q181_tokenizer_coverage" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val merges = TextAnalysis.bpeTrain(d, "text", numMerges = 20)
        .orderBy(col("step")).collect()
        .map(r => r.getAs[String]("left") -> r.getAs[String]("right"))
        .toSeq
      TextAnalysis.tokenizerCoverage(d, "source", "text", merges)
        .orderBy(col("stratum"))
    }),

    // ---- per-doc drop PROVENANCE through the funnel-gated full -----
    // recipe: the row-level "why did my document disappear" table —
    // first-dropping stage per input doc (funnel → decon → span →
    // near-dup → DSIR cut → mixture cap → selected), labels replayed
    // by the q162 chain oracle stage by stage.
    "q182_drop_provenance" -> ((s, dir) => {
      val cfg = curationFixture(s, dir, funnel = true)
      val train = t(s, dir, "documents")
        .filter(pmod(col("doc_id"), lit(20)) =!= 0)
      graft.streaming.CurationStream.provenance(s, cfg, train,
          CurationTargets)
        .orderBy(col("doc_id"))
    }),

    // ---- packing efficiency report: padding waste + split-doc ------
    // fraction per stream for the q87 layout at a 512-token budget —
    // the two numbers that grade a packed layout before training.
    "q183_packing_report" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      TextAnalysis.packingReport(d, "doc_id", "source",
          size(tokens(col("text"))).cast("long"), chunkTokens = 512)
        .orderBy(col("stream"))
    }),

    // ---- HTML→text extraction: the stage BEFORE every line rule ----
    // (RefinedWeb §3.1 — raw web corpora are HTML before they are
    // text). Deterministic markup synthesized per doc (q89/q173
    // convention); comments/script/style content removal, block-tag →
    // line-structure, inline-tag seamless rejoin, and entity decoding
    // (incl. the &amp;lt; double-escape) all have prey.
    "q184_html_extract" -> ((s, dir) => {
      TextAnalysis.extractHtml(htmlPages(t(s, dir, "documents")),
          "doc_id", "html")
        .orderBy(col("doc_id"))
    }),

    // ---- the composed web-corpus front: HTML→lines→line cleaner ----
    // extractHtml's output feeds cleanLines unchanged (same line
    // shape); the nav chrome the extraction PRESERVES as lines is
    // exactly what the line rules then judge (Home → r_short, DOC n →
    // r_caps, the entity div → r_sym) — one oracle replays both
    // stages.
    "q185_html_clean" -> ((s, dir) => {
      val pages = htmlPages(t(s, dir, "documents"))
      TextAnalysis.cleanLines(
          TextAnalysis.extractHtml(pages, "doc_id", "html"),
          "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // ---- FUZZY decontamination: near-dup overlap vs the eval suite --
    // The audit exact shingle membership (q84) cannot do: a
    // paraphrased benchmark item shares few exact 3-shingles but
    // near-dups under MinHash. Benchmark = the q84 %20 split;
    // signatures/buckets are the q21 portable chain (2-shingle, 64
    // perms, 8 bands), pairs confined to shared buckets with the
    // bench side BROADCAST — the training corpus never shuffles.
    "q186_fuzzy_decon" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      TextAnalysis.fuzzyDecontaminate(
          d.filter(pmod(col("doc_id"), lit(20)) =!= 0),
          d.filter(pmod(col("doc_id"), lit(20)) === 0),
          "doc_id", "text", "doc_id", "text",
          shingleN = 2, numPerm = 64, bands = 8, threshold = 0.5)
        .orderBy(col("doc_id"))
    }),

    // ---- fuzzy decon from a PERSISTED signature index, two folds ----
    // The benchmark is signed ONCE (buildFuzzyBenchmarkIndex), then two
    // training batches fold independently against it; per-doc
    // independence makes the union equal the one-shot run — same
    // oracle as q186 verbatim.
    "q187_fuzzy_decon_incremental" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val idx = graft.SparkEntry.tmpDir("fuzzy_bench_idx")
      TextAnalysis.buildFuzzyBenchmarkIndex(
        d.filter(pmod(col("doc_id"), lit(20)) === 0),
        "doc_id", "text", shingleN = 2, numPerm = 64, seed = 42L,
        indexDir = idx)
      val train = d.filter(pmod(col("doc_id"), lit(20)) =!= 0)
      val folds = Seq(
        train.filter(pmod(col("doc_id"), lit(2)) === 0),
        train.filter(pmod(col("doc_id"), lit(2)) === 1)
      ).map(b => TextAnalysis.fuzzyDecontaminateIncremental(s, idx, b,
        "doc_id", "text", shingleN = 2, numPerm = 64, bands = 8,
        threshold = 0.5))
      folds.reduce(_ unionByName _).orderBy(col("doc_id"))
    }),

    // ---- fuzzy-decon candidate quality (the q180 discipline, -------
    // cross-corpus): exact bigram Jaccard truth on a %2 labeled
    // training sample × the full benchmark, banded candidates on the
    // same sample — band-granularity recall is a MEASURED number.
    // (%2: the planted cross-split near-dup at sf0.01 has an even
    // training id — a sample predicate that misses every true pair
    // would measure nothing.)
    "q188_fuzzy_decon_eval" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      TextAnalysis.fuzzyDeconEval(
        d.filter(pmod(col("doc_id"), lit(20)) =!= 0),
        d.filter(pmod(col("doc_id"), lit(20)) === 0),
        "doc_id", "text", "doc_id", "text",
        evalPred = id => pmod(id, lit(2)) === 0,
        shingleN = 2, numPerm = 64, bands = 8, threshold = 0.5,
        seed = 42L)
    }),

    // ---- BYTE-LEVEL BPE (the GPT-2 production base alphabet): ------
    // symbols are UTF-8 bytes as fixed-width hex, so no input ever
    // falls out of vocabulary. Trained on the multi-byte fixture
    // (Greek/CJK/emoji) — merges form over multi-byte sequences too.
    "q189_bpe_bytes_train" -> ((s, dir) => {
      TextAnalysis.bpeTrainBytes(bytePages(t(s, dir, "documents")),
          "text", numMerges = 20)
        .orderBy(col("step"))
    }),

    // ---- byte-level round trip: mark → train → ids → decode --------
    // must reproduce the whitespace-normalized fixture EXACTLY —
    // including the scripts no char-level vocab trained here could
    // represent; the oracle is the reconstruction invariant itself
    // (the q154 convention).
    "q190_bpe_bytes_roundtrip" -> ((s, dir) => {
      val d = bytePages(t(s, dir, "documents"))
        .select(col("doc_id"),
          TextAnalysis.markWords(col("text")).as("text"))
      val merges = TextAnalysis.bpeTrainBytes(d, "text", numMerges = 30)
        .orderBy(col("step")).collect()
        .map(r => r.getAs[String]("left") -> r.getAs[String]("right"))
        .toSeq
      val vocab = TextAnalysis.bpeVocabBytes(s, merges)
      val enc = TextAnalysis.bpeEncodeIdsBytes(d, "doc_id", "text",
        merges, vocab)
      TextAnalysis.bpeDecodeBytes(enc, vocab).orderBy(col("doc_id"))
    }),

    // ---- byte-level coverage audit (q181 over the byte table): -----
    // merged ratio per stratum where a base piece is one BYTE — low
    // ratio cleanly means "vocab doesn't fit this stratum", never
    // "input didn't parse" (nothing is OOV by construction).
    "q191_bpe_bytes_coverage" -> ((s, dir) => {
      val d = bytePages(t(s, dir, "documents"))
      val merges = TextAnalysis.bpeTrainBytes(d, "text", numMerges = 20)
        .orderBy(col("step")).collect()
        .map(r => r.getAs[String]("left") -> r.getAs[String]("right"))
        .toSeq
      TextAnalysis.tokenizerCoverageBytes(d, "source", "text", merges)
        .orderBy(col("stratum"))
    }),

    // ---- multimodal: REAL video-container decode — MJPEG-in-AVI ----
    // The last FakeCodec modality retired: deterministic AVI files
    // (dims/frame count/per-frame MID-BIN grays pure functions of
    // event_id — JPEG is lossy, so grays sit at 16+32k where the ≤~4
    // DC-quantization error cannot cross a luminance-bin boundary),
    // decoded by walking the RIFF tree and JPEG-decoding every 00dc
    // chunk. Oracle predicts frame count, dims, and the dominant
    // cross-frame bin from event_id alone — container parsing and
    // per-frame pixel decode both have to be right.
    "q192_avi_frames" -> ((s, dir) => {
      import s.implicits._
      val media = eventsUs(s, dir)
        .filter(pmod(col("event_id"), lit(50)) === 0)
        .select(col("event_id").cast("long").as("media_id"),
          (lit(8) + pmod(col("event_id"), lit(16))).cast("int").as("w"),
          (lit(8) + pmod(col("event_id"), lit(5))).cast("int").as("h"),
          (lit(1) + pmod(col("event_id"), lit(4))).cast("int").as("nf"),
          pmod(col("event_id"), lit(8)).cast("int").as("g0"))
        .as[(Long, Int, Int, Int, Int)]
        .map { case (id, w, h, nf, g0) => Multimodal.MediaRow(
          id, "video", Multimodal.encodeAviMjpeg(w, h,
            (0 until nf).map(f => 16 + 32 * ((g0 + 5 * f) % 8))),
          "video/x-msvideo") }
      Multimodal
        .decodeFeatures(media, Multimodal.AviMjpegCodec,
          parallelism = Some(8))
        .toDF()
        .select(col("media_id"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("n_frames").cast("long").as("n_frames"),
          (array_position(col("feature"), array_max(col("feature"))) - 1)
            .cast("long").as("top_bin"))
        .orderBy(col("media_id"))
    }),

    // ---- CENTROID-DRIFT monitor over a frozen-centroid SQ8 index ---
    // Centroids trained on batch 1, frozen; batch 2 ingests a MOVED
    // distribution (reversed vectors — deterministic drift). The
    // report reads the at-rest codes only (O(index), no raw vectors)
    // and shows batch 2's angular residuals jumping — the measured
    // signal that triggers q194's retrain.
    "q193_ivf_drift" -> ((s, dir) => {
      val em = t(s, dir, "embeddings")
      val b1 = em.filter(pmod(col("vec_id"), lit(2)) === 0)
      val b2 = em.filter(pmod(col("vec_id"), lit(2)) === 1)
        .withColumn("embedding", reverse(col("embedding")))
      val cents = Ann.ivfTrainPortable(b1, "vec_id", "embedding", k = 4)
      val idx = graft.SparkEntry.tmpDir("drift_idx")
      def cl = Ann.cosineCluster(
        col("embedding").cast("array<double>"), cents)
      Ann.sq8IndexAppend(b1, "vec_id", "embedding", cl, idx, 1L)
      Ann.sq8IndexAppend(b2, "vec_id", "embedding", cl, idx, 2L)
      Ann.vectorIndexDriftReport(s, idx, cents)
        .orderBy(col("layer_batch"), col("cluster"))
    }),

    // ---- RETRAIN lifecycle: new epoch built offline, atomic swap ----
    // The q193 drifted index retrains on the FULL (moved) corpus:
    // retrainVectorIndex builds epoch=1 with fresh centroids while
    // the old store answers, swaps the _EPOCH pointer, GCs the old
    // layers. The query runs through the SAME root path — the oracle
    // replays a FRESH build, so swap-equals-rebuild is the checked
    // property.
    "q194_ivf_retrain" -> ((s, dir) => {
      val em = t(s, dir, "embeddings")
      val b1 = em.filter(pmod(col("vec_id"), lit(2)) === 0)
      val b2 = em.filter(pmod(col("vec_id"), lit(2)) === 1)
        .withColumn("embedding", reverse(col("embedding")))
      val all = b1.unionByName(b2)
      val oldCents = Ann.ivfTrainPortable(b1, "vec_id", "embedding",
        k = 4)
      val idx = graft.SparkEntry.tmpDir("retrain_idx")
      Ann.sq8IndexAppend(b1, "vec_id", "embedding",
        Ann.cosineCluster(col("embedding").cast("array<double>"),
          oldCents), idx, 1L)
      Ann.sq8IndexAppend(b2, "vec_id", "embedding",
        Ann.cosineCluster(col("embedding").cast("array<double>"),
          oldCents), idx, 2L)
      val newCents = Ann.ivfTrainPortable(all, "vec_id", "embedding",
        k = 4)
      Ann.retrainVectorIndex(idx) { epochDir =>
        Ann.sq8IndexAppend(all, "vec_id", "embedding",
          Ann.cosineCluster(col("embedding").cast("array<double>"),
            newCents), epochDir, 1L)
      }
      val qs = all.filter(col("vec_id") < 8)
        .withColumn("probes", Ann.cosineProbes(
          col("embedding").cast("array<double>"), newCents, 2))
      Ann.sq8IndexQuery(s, idx, qs, "vec_id", "embedding", "probes",
          k = 3)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- END-TO-END: HL7 lab reports → curation funnel → RAG index --
    // The clinical-documents-to-RAG story both halves of this engine
    // exist to serve: CoPath ORU^R01 messages carry each document as
    // a TX report (the q59 wire shape), the parsed report text runs
    // the q157 quality funnel, survivors chunk → embed → SQ8-fold in
    // two wire batches, and retrieval answers over the result. One
    // oracle replays from `documents` directly — wire parse fidelity,
    // the funnel, chunking, embedding, and probing all have to agree.
    "q195_wire_rag" -> ((s, dir) =>
      wireRagChain(s, t(s, dir, "documents"), "wire_rag")),

    // ---- IMAGE near-dup via perceptual hash (the LAION shape): -----
    // dHash block-averages each decoded image onto a 9×8 grid and
    // bits the adjacent-cell luminance ORDER — the same two-band
    // pattern at DIFFERENT sizes and gray levels hashes identically,
    // so exact grouping on the hash is pixel-level near-dup
    // detection. Fixture: grid-aligned banded PNGs whose hash class
    // is a pure function of (event_id/50) % 2; the oracle predicts
    // each image's duplicate-group size from event ids alone (decode,
    // grid, and comparison bits all have to be right for sizes/grays
    // to collapse into exactly two groups).
    "q199_image_neardup" -> ((s, dir) => {
      import s.implicits._
      val media = eventsUs(s, dir)
        .filter(pmod(col("event_id"), lit(50)) === 0)
        .withColumn("j", expr("event_id div 50").cast("long"))
        .select(col("event_id").cast("long").as("media_id"),
          (lit(9) * (lit(1) + pmod(col("j"), lit(4)))).cast("int")
            .as("w"),
          (lit(8) + pmod(col("j"), lit(9))).cast("int").as("h"),
          pmod(col("j"), lit(2)).cast("int").as("cls"),
          (lit(150) + pmod(col("j"), lit(50))).cast("int").as("bright"),
          (lit(40) + pmod(col("j"), lit(40))).cast("int").as("dark"))
        .as[(Long, Int, Int, Int, Int, Int)]
        .map { case (id, w, h, cls, bright, dark) =>
          val (gl, gr) = if (cls == 0) (bright, dark) else (dark, bright)
          Multimodal.MediaRow(id, "image",
            Multimodal.encodeBandedPng(w, h, gl, gr), "image/png") }
      val hashes = Multimodal.dhashFeatures(media, Some(8)).toDF()
      val sizes = hashes.groupBy("dhash").agg(count(lit(1)).as("__n"))
      hashes.join(sizes, "dhash")
        .select(col("media_id"),
          (col("__n") - 1).cast("long").as("n_dups"))
        .orderBy(col("media_id"))
    }),

    // ---- HAMMING-near image matching: dHash distance ≤ 1 via -------
    // banded bit buckets (pigeonhole: a ≤1-bit difference leaves ≥3
    // of 4 16-bit slices intact). Fixture rows carry the 2-bit class
    // code, each class bit flipping EXACTLY one hash bit — so class
    // codes at hamming ≤1 are near images and the oracle predicts
    // every image's near-count from event arithmetic alone.
    "q200_image_hamming" -> ((s, dir) => {
      import s.implicits._
      val media = eventsUs(s, dir)
        .filter(pmod(col("event_id"), lit(50)) === 0)
        .withColumn("j", expr("event_id div 50").cast("long"))
        .select(col("event_id").cast("long").as("media_id"),
          (lit(9) * (lit(1) + pmod(col("j"), lit(3)))).cast("int")
            .as("w"),
          (lit(8) * (lit(1) + pmod(col("j"), lit(2)))).cast("int")
            .as("h"),
          pmod(col("j"), lit(4)).cast("int").as("cls"),
          (lit(150) + pmod(col("j"), lit(50))).cast("int").as("bright"),
          (lit(40) + pmod(col("j"), lit(40))).cast("int").as("dark"))
        .as[(Long, Int, Int, Int, Int, Int)]
        .map { case (id, w, h, cls, bright, dark) =>
          val pattern = Seq((cls & 1) == 1, (cls & 2) == 2) ++
            Seq.fill(6)(true)
          Multimodal.MediaRow(id, "image",
            Multimodal.encodeRowPatternPng(w, h, bright, dark, pattern),
            "image/png") }
      val hashes = Multimodal.dhashFeatures(media, Some(8)).toDF()
      val pairs = Dedup.hammingNearDup(hashes, "media_id", "dhash",
        maxDist = 1)
      val sym = pairs.select(col("id_a").as("media_id"))
        .unionAll(pairs.select(col("id_b").as("media_id")))
        .groupBy("media_id").agg(count(lit(1)).as("__n"))
      hashes.select("media_id")
        .join(sym, Seq("media_id"), "left")
        .select(col("media_id"),
          coalesce(col("__n"), lit(0L)).as("n_near"))
        .orderBy(col("media_id"))
    }),

    // ---- the persisted BYTE-LEVEL tokenizer artifact (q161 over ----
    // the byte base): train → save (merge table + 256-base vocab) →
    // load → encode to ids. The artifact round trip and the id layout
    // are what a production release ships; oracle replays the byte
    // chain's final vocab state per word.
    "q198_bpe_bytes_artifact" -> ((s, dir) => {
      val d = bytePages(t(s, dir, "documents"))
      val trained = TextAnalysis.bpeTrainBytes(d, "text", numMerges = 20)
      val mergesSeq = trained.orderBy(col("step")).collect()
        .map(r => r.getAs[String]("left") -> r.getAs[String]("right"))
        .toSeq
      val tokDir = graft.SparkEntry.tmpDir("tok_bytes_artifact")
      TextAnalysis.saveTokenizer(trained,
        TextAnalysis.bpeVocabBytes(s, mergesSeq), tokDir)
      val (merges, vocab) = TextAnalysis.loadTokenizer(s, tokDir)
      TextAnalysis.bpeEncodeIdsBytes(d, "doc_id", "text", merges, vocab)
        .orderBy(col("doc_id"), col("pos"))
    }),

    // ---- fuzzy decon through the REAL streaming engine: the --------
    // benchmark index built once, training micro-batches fold via
    // foreachBatch into batch= report layers (overwrite-by-batch-id —
    // at-least-once replays rewrite, never duplicate); layer union ==
    // one-shot q186 under its verbatim oracle.
    "q197_fuzzy_decon_streamed" -> ((s, dir) => {
      import s.implicits._
      import graft.streaming.DeconStream
      val d = t(s, dir, "documents")
        .withColumn("doc_id", col("doc_id").cast("long"))
      val idx = graft.SparkEntry.tmpDir("fuzzy_idx_stream")
      TextAnalysis.buildFuzzyBenchmarkIndex(
        d.filter(pmod(col("doc_id"), lit(20)) === 0),
        "doc_id", "text", shingleN = 2, numPerm = 64, seed = 42L,
        indexDir = idx)
      val outDir = graft.SparkEntry.tmpDir("fuzzy_out_stream")
      // test-scale collect: the sf corpus is the fixture feeding the
      // MemoryStream, not a production pattern (the q165 convention)
      val rows = d.filter(pmod(col("doc_id"), lit(20)) =!= 0)
        .select(col("doc_id"), col("text"))
        .collect().map(r => (r.getLong(0), r.getString(1)))
      val ms = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, String)](s)
      val q = DeconStream.start(ms.toDF().toDF("doc_id", "text"), idx,
        outDir,
        graft.SparkEntry.tmpDir("fuzzy_ck"),
        "doc_id", "text", threshold = 0.5)
      ms.addData(rows.filter(_._1 % 2 == 0).toSeq)
      q.processAllAvailable()
      ms.addData(rows.filter(_._1 % 2 == 1).toSeq)
      q.processAllAvailable()
      q.stop()
      s.read.parquet(outDir)
        .select("doc_id", "n_matches", "max_est_jaccard", "contaminated")
        .orderBy(col("doc_id"))
    }),

    // ---- the FULL web front: raw HTML → extraction → line cleaner --
    // → quality funnel, one oracle (RefinedWeb's §3 order end to
    // end): extraction exposes the chrome as lines, the line rules
    // strip it, and the funnel judges what text remains — each
    // stage's output is the next one's exact input.
    "q196_web_front" -> ((s, dir) => {
      val pages = htmlPages(t(s, dir, "documents"))
      val cleaned = TextAnalysis.cleanLines(
          TextAnalysis.extractHtml(pages, "doc_id", "html"),
          "doc_id", "text")
        .select(col("doc_id"), col("clean_text").as("text"))
      TextAnalysis.qualityFunnel(cleaned, "doc_id", "text",
          langs = Seq("en"), minTokens = 20L, maxStop10k = 1500L,
          minAvgLen10 = 39L)
        .orderBy(col("doc_id"))
    }),

    // ---- the 128-BIT CONTENT-HASH exact-dedup index (q130's fold, --
    // hash-only layers): at-rest state is ~50 fixed bytes per
    // distinct doc instead of the text itself — the 100 TB form.
    // Identity = md5; grouping by it equals grouping by the text
    // (collision odds ~n²/2¹²⁹), so q19's one-shot oracle replays the
    // fold VERBATIM.
    "q201_exact_dedup_hashed" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val idx = graft.SparkEntry.tmpDir("exact_hidx")
      Dedup.exactHashedIndexAppend(
        d.filter(pmod(col("doc_id"), lit(2)) === 0), "doc_id", "text",
        idx, 1L)
      Dedup.exactHashedIndexAppend(
        d.filter(pmod(col("doc_id"), lit(2)) === 1), "doc_id", "text",
        idx, 2L)
      Dedup.exactFromHashedIndex(s, idx)
        .select(col("keep_id"), col("n_dups"))
        .orderBy(col("keep_id"))
    }),

    // ---- PRODUCTION-RADIUS Hamming banding, measured (the q180 ----
    // discipline on 64-bit fingerprints): radius 8 ⇒ 16 auto-widened
    // 4-bit bands, hot-bucket cap 40 — and the recall that cap+bands
    // cost vs EXACT all-pairs bit_count truth on the %3 sample. The
    // oracle REPLAYS the banding, cap and verify bit-for-bit, so the
    // reported recall (0.833 here — the cap drops real cells) is an
    // honest cross-engine number, not a self-grade. Fixture: pHash-
    // shaped corpus — 77 near-dup GROUPS of 10, each group's base
    // pattern spread multiplicatively over bits 16–47 (8 informative
    // bands; the rest are degenerate-hot and rightly capped), members
    // ≤4 noise bits apart (within radius); id-bounded (< 10000) so
    // the corpus — and the measurement — is IDENTICAL at every sf.
    "q202_hamming_eval" -> ((s, dir) => {
      val g = expr("CAST(event_id AS BIGINT) div 130")
      val h = eventsUs(s, dir)
        .filter(pmod(col("event_id"), lit(13)) === 0 &&
          col("event_id") < 10000)
        .select(col("event_id").cast("long").as("media_id"),
          (pmod(expr("CAST(event_id AS BIGINT) div 13"), lit(10L)) +
            pmod(g * lit(2654435761L), lit(65536L)) * lit(65536L) +
            pmod(g * lit(40503L), lit(65536L)) * lit(4294967296L))
            .as("h"))
      Dedup.hammingEval(h, "media_id", "h",
        evalPred = id => pmod(id, lit(3)) === 0,
        maxDist = 8, bands = 0, maxBucketSize = 40)
    }),

    // ---- PDF→TEXT on the codec seam: real single-page PDFs --------
    // (FlateDecode content streams, Tj text operators, escapes) built
    // per doc from the corpus, then extracted back — the oracle
    // predicts the decode from the text alone, so container layout,
    // inflate, and the string-escape walk all have to be right.
    "q203_pdf_extract" -> ((s, dir) => {
      import s.implicits._
      val media = t(s, dir, "documents")
        .select(col("doc_id").cast("long"),
          regexp_replace(coalesce(col("text"), lit("")),
            "[^A-Za-z0-9 ]", "").as("txt"))
        .as[(Long, String)]
        .map { case (id, txt) =>
          // two lines: a doc-derived header + the body — exercises
          // the block-per-line join and parenthesis escaping
          Multimodal.MediaRow(id, "pdf",
            Multimodal.encodePdf(Seq(s"Report ($id)", txt)),
            "application/pdf") }
      Multimodal.pdfTexts(media)
        .select(col("media_id"),
          // flat compare column: the extracted text's lines
          regexp_replace(col("text"), "\n", "|").as("text"))
        .orderBy(col("media_id"))
    }),

    // ---- END-TO-END: HL7 ORU wire carrying base64 PDF reports → ---
    // bytes → PdfCodec text → funnel → RAG retrieval. q195's chain
    // with the document riding as an actual PDF attachment (the q59
    // CoPath ED shape, ref core/.../LabResultController.java:122-137)
    // instead of inline TX — the corpus most hospital RAG systems
    // actually hold. The oracle replays from `documents` directly, so
    // PDF encode → base64 → MIME-preamble strip → unbase64 →
    // FlateDecode → text-operator walk must be EXACTLY lossless
    // before funnel/chunk/embed/probe even start.
    "q204_wire_pdf_rag" -> ((s, dir) => {
      import s.implicits._
      import graft.sources.LabFunnel
      import graft.streaming.RagStream
      val nPart = s.conf.get("spark.sql.shuffle.partitions").toInt
      // PDF bytes per doc (driver-free, per-row JVM encode), base64'd
      // for the ED OBX ride — spread at the narrow one-file origin
      // (the q195 lesson)
      val pdfs = t(s, dir, "documents").repartition(nPart)
        .select(col("doc_id").cast("long"),
          regexp_replace(coalesce(col("text"), lit("")),
            "[^A-Za-z0-9 ]", "").as("txt"))
        .as[(Long, String)]
        .map { case (id, txt) =>
          (id, java.util.Base64.getEncoder.encodeToString(
            Multimodal.encodePdf(Seq(txt)))) }
        .toDF("doc_id", "b64")
      val id = col("doc_id").cast("string")
      val raw = concat_ws("\r",
        concat(lit("MSH|^~\\&|Bridges|UCLH|||20240501120000||ORU^R01|CP"),
          id, lit("|P|2.4")),
        concat(lit("ORC|RE|UH"), id, lit("|UH"), id, lit("||CM")),
        concat(lit("OBR|1|UH"), id, lit("|UH"), id,
          lit("|H^Histology^CPEAP|||20240501100000"), lit("|" * 15),
          lit("20240501113000||CP|F")),
        concat(lit("OBX|1|ED|UH"), id, lit("^^CPEAP||"),
          lit("Content-Type: text/plain; charset=US-ASCII; name=r.pdf; "),
          lit("Content-transfer-encoding: base64"), col("b64"),
          lit("||||||F")))
      val parsed = LabFunnel.parseCoPath(
        pdfs.withColumn("raw", raw), "raw")
      val ed = get(filter(col("coPathResults"),
        r => r.getField("valueType") === "ED"), lit(0))
      val media = parsed.select(
          regexp_extract(col("sourceMessageId"), "^CP(\\d+)_01$", 1)
            .cast("long").as("media_id"),
          ed.getField("byteValue").as("payload"))
        .as[(Long, Array[Byte])]
        .map { case (mid, bytes) =>
          Multimodal.MediaRow(mid, "pdf", bytes, "application/pdf") }
      // checkpoint the extracted (id, text) sliver — three consumers
      // (two folds + the query encode), the q195 discipline
      val labDocs = Multimodal.pdfTexts(media)
        .select(col("media_id").as("doc_id"), col("text"))
        .localCheckpoint(false)
      val cfg = RagStream.Config(
        graft.SparkEntry.tmpDir("wire_pdf_rag"), "doc_id", "text",
        funnel = Some(RagStream.Funnel(langs = Seq("en"),
          minTokens = 20L, maxStop10k = 1500L, minAvgLen10 = 39L)))
      RagStream.foldBatch(
        labDocs.filter(pmod(col("doc_id"), lit(2)) === 0), 1L, cfg)
      RagStream.foldBatch(
        labDocs.filter(pmod(col("doc_id"), lit(2)) === 1), 2L, cfg)
      // doc-derivable query prefilter (q195's arithmetic: chunk_id =
      // doc_id·100 + idx ≡ 0 mod 2000 ⇒ idx = 0 ∧ doc_id ≡ 0 mod 20)
      val qs = RagStream.encodeBatch(
          labDocs.filter(pmod(col("doc_id"), lit(20L)) === 0), cfg)
        .filter(pmod(col("doc_id"), lit(2000L)) === 0)
        .withColumn("probes", array(pmod(col("doc_id"), lit(4L)),
          pmod(col("doc_id") + 1L, lit(4L))))
      Ann.sq8IndexQuery(s, cfg.indexDir, qs, "doc_id", "emb", "probes",
          k = 3)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- the FULL curation recipe with the FUZZY decon gate --------
    // (Llama-style audit: the recipe drops near-dup overlap with the
    // eval suite, not just exact 5-shingle membership). The fixture
    // PLANTS paraphrase-grade contamination the exact gate
    // structurally cannot catch (every-5th-token-dropped benchmark
    // copies: zero intact 5-shingles, 2-shingle MinHash est ≈ 0.5 —
    // see [[curationFixture]]); the recipe runs with Config.fuzzyIdx
    // = the benchmark's persisted signature table and the oracle
    // re-derives the fuzzy drop set through the q186 CTE chain over
    // the same augmented corpus, threading it into kept1.
    "q205_curation_fuzzy" -> ((s, dir) => {
      graft.streaming.CurationStream.select(s,
          curationFixture(s, dir, fuzzy = true, paraphrase = true),
          CurationTargets)
        .orderBy(col("doc_id"))
    }),

    // ---- the FULL curation recipe with the IMAGE near-dup gate -----
    // (the multimodal column inside the recipe, end to end): docs
    // carry banded-pattern PNGs, REAL decode + dHash on the codec
    // seam feeds Config.imageHashCol, foldBatch persists the hash
    // layers, and select keeps one member per identical-hash group —
    // the oracle predicts every group from doc-id arithmetic alone
    // (pattern class = (doc_id div 15) mod 256; decode, grid and
    // comparison bits all have to be right for the size/brightness
    // variants to collapse into exactly the predicted groups).
    "q206_curation_imagegate" -> ((s, dir) => {
      graft.streaming.CurationStream.select(s,
          curationFixture(s, dir, image = true), CurationTargets)
        .orderBy(col("doc_id"))
    }),

    // ---- the recipe with the CROSS-MODAL ALIGNMENT gate (CLIP-style
    // image-text curation): captions embed (hashEmbed dim 8), images
    // decode to raw luminance histograms on the codec seam, the
    // per-doc s4 cosine folds into alignIdx layers, and select drops
    // below-threshold pairs. The fixture renders every image FROM a
    // caption — its own (matched) or bin-reversed (the planted
    // mismatched victim, every 4th image doc); the oracle re-derives
    // the embedding, the histogram, the cosine and the drop set from
    // the caption text alone, so decode, binning and the score
    // arithmetic all have to be exactly right.
    "q229_curation_aligngate" -> ((s, dir) => {
      graft.streaming.CurationStream.select(s,
          curationFixture(s, dir, align = true), CurationTargets)
        .orderBy(col("doc_id"))
    }),

    // ---- the RADIUS-1 image gate: near-duplicate groups are -------
    // CONNECTED COMPONENTS over banded-Hamming pairs (LAION's
    // convention), not just identical hashes — the fixture's third
    // group member is deliberately one dHash bit off its codeword
    // (codewords pairwise ≥ 3 bits apart, so components never bleed
    // across groups) and must still fold into its group's drop set.
    "q207_curation_image_radius" -> ((s, dir) => {
      graft.streaming.CurationStream.select(s,
          curationFixture(s, dir, imageRadius = true), CurationTargets)
        .orderBy(col("doc_id"))
    }),

    // ---- EVERY gate at once: funnel → exact + fuzzy decon → span →
    // near-dup → image → DSIR cut → mixture — the full multimodal
    // curation recipe composed end-to-end under ONE oracle (each gate
    // is green alone in q162/q126/q205/q206; this proves they
    // compose, which is what a production run actually executes).
    "q208_curation_all_gates" -> ((s, dir) => {
      graft.streaming.CurationStream.select(s,
          curationFixture(s, dir, funnel = true, fuzzy = true,
            image = true),
          CurationTargets)
        .orderBy(col("doc_id"))
    }),

    // ---- AUDIO near-dup via the energy-envelope fingerprint (the ---
    // dHash idea on the time axis): same loudness SHAPE at different
    // VOLUMES fingerprints identically — the fixture's period-4
    // amplitude comb is phase-shifted by the class, volumes vary per
    // clip, and the oracle predicts each clip's duplicate-group size
    // from event arithmetic alone (real WAV encode → javax.sound
    // decode → exact-integer envelope, all of it has to be right for
    // the volumes to collapse into exactly four groups).
    "q209_audio_neardup" -> ((s, dir) => {
      import s.implicits._
      val media = eventsUs(s, dir)
        .filter(pmod(col("event_id"), lit(50)) === 0)
        .withColumn("j", expr("event_id div 50").cast("long"))
        .select(col("event_id").cast("long").as("media_id"),
          pmod(col("j"), lit(4)).cast("int").as("cls"),
          (lit(500) + pmod(col("event_id"), lit(300))).cast("int")
            .as("vol"),
          (lit(8000) + pmod(col("j"), lit(3)) * lit(8000)).cast("int")
            .as("rate"))
        .as[(Long, Int, Int, Int)]
        .map { case (id, cls, vol, rate) =>
          val samples = Array.tabulate[Short](640) { k =>
            val f = k / 10
            if ((f + cls) % 4 == 0) vol.toShort else 0: Short
          }
          Multimodal.MediaRow(id, "audio",
            Multimodal.encodeWav(rate, samples), "audio/wav") }
      val fps = Multimodal.audioFingerprints(media, Some(8)).toDF()
      val sizes = fps.groupBy("dhash").agg(count(lit(1)).as("__n"))
      fps.join(sizes, "dhash")
        .select(col("media_id"),
          (col("__n") - 1).cast("long").as("n_dups"))
        .orderBy(col("media_id"))
    }),

    // ---- VIDEO near-dup via per-frame dHash sequences: a video's ---
    // dedup identity is its ordered frame-fingerprint list, so
    // re-encodes at different grays collapse while a changed frame
    // separates. Fixture: 3 banded MJPEG frames per video, each
    // frame's bright side = one bit of the class — the oracle
    // predicts group sizes from (event div 50) % 8 alone, across the
    // LOSSY JPEG round trip (block-aligned band boundary keeps the
    // comparisons inside the margin).
    "q210_video_neardup" -> ((s, dir) => {
      import s.implicits._
      val media = eventsUs(s, dir)
        .filter(pmod(col("event_id"), lit(50)) === 0)
        .withColumn("j", expr("event_id div 50").cast("long"))
        .select(col("event_id").cast("long").as("media_id"),
          pmod(col("j"), lit(8)).cast("int").as("cls"),
          (lit(200) + pmod(col("j"), lit(40))).cast("int").as("bright"),
          (lit(20) + pmod(col("j"), lit(20))).cast("int").as("dark"))
        .as[(Long, Int, Int, Int)]
        .map { case (id, cls, bright, dark) =>
          val frames = (0 until 3).map { k =>
            if (((cls >> k) & 1) == 0) (bright, dark) else (dark, bright)
          }
          Multimodal.MediaRow(id, "video",
            Multimodal.encodeAviMjpegBanded(72, 16, frames),
            "video/x-msvideo") }
      val fh = Multimodal.frameDhashes(media, Some(8)).toDF()
      val sig = fh.groupBy("media_id")
        .agg(transform(array_sort(collect_list(
            struct(col("frame_idx"), col("dhash")))),
          s => s.getField("dhash")).as("vsig"))
      val sizes = sig.groupBy("vsig").agg(count(lit(1)).as("__n"))
      sig.join(sizes, "vsig")
        .select(col("media_id"),
          (col("__n") - 1).cast("long").as("n_dups"))
        .orderBy(col("media_id"))
    }),

    // ---- the FULL curation recipe with an AUDIO near-dup gate ------
    // (the claim behind q209 made load-bearing: the recipe's hash
    // gate is modality-GENERIC — Config.imageHashCol is any 64-bit
    // fingerprint column, so audio rides the identical banding/
    // grouping/drop machinery with zero recipe changes). Docs carry
    // WAV clips at per-doc volumes and sample rates; the real
    // javax.sound decode → exact-integer energy envelope must
    // collapse them into exactly the (doc_id div 15) mod 4 class
    // groups the oracle predicts from arithmetic alone.
    "q211_curation_audiogate" -> ((s, dir) => {
      graft.streaming.CurationStream.select(s,
          curationFixture(s, dir, audio = true), CurationTargets)
        .orderBy(col("doc_id"))
    }),

    // ---- HARD-NEGATIVE MINING for embedding-model training --------
    // (the DPR/Sentence-Transformers recipe): for each labeled
    // (query, positive) pair, the top-k most-similar corpus items
    // that are not the query, not a labeled positive, and not above
    // the false-negative margin (90% of the best positive's s4 here —
    // near-positives are presumed unlabeled positives and excluded).
    // Two labeled positives per query via id arithmetic; the oracle
    // replays scoring, margin and re-rank in exact s4 integers.
    "q212_hard_negatives" -> ((s, dir) => {
      val em = t(s, dir, "embeddings")
      val q8 = em.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"))
      val pairs = q8.select(col("query_id"),
          (col("query_id") + 50L).as("pos_id"))
        .unionByName(q8.select(col("query_id"),
          (col("query_id") * 3L + 100L).as("pos_id")))
      Ann.hardNegatives(pairs, em, "vec_id", "embedding", k = 5,
          margin10k = 9000L)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- SFT conversation assembly: per-turn loss-mask spans -------
    // (instruction-tuning data prep): chat turns synthesized from
    // events arithmetic (6-turn conversations, alternating roles,
    // variable-width texts via repeat) render as <|role|> pieces; the
    // span layout is ONE exact-integer cumsum per conversation and
    // in_loss marks the assistant turns a supervised loss reads.
    "q213_sft_spans" -> ((s, dir) => {
      Conversations.spans(sftTurns(s, dir),
          "conv_id", "turn_idx", "role", "text")
        .orderBy(col("conv_id"), col("turn_idx"))
    }),

    // ---- SFT rendered conversations: the training documents the ----
    // q213 spans index into — pieces joined in turn order (the
    // whitespace tokenization of `text` lines up with the spans
    // token-for-token), with total and loss-bearing token widths.
    "q214_sft_render" -> ((s, dir) => {
      Conversations.render(sftTurns(s, dir),
          "conv_id", "turn_idx", "role", "text")
        .orderBy(col("conv_id"))
    }),

    // ---- INTERLEAVED MULTIMODAL PACKING (the MMC4/OBELICS layout): -
    // one ordered stream of text docs AND images, an image occupying
    // a fixed 64-token adapter budget; items lay end-to-end per
    // stream and each (stream, chunk) row is the ordered item
    // manifest with its exact text/image width split. Every 7th doc
    // contributes an image item right after its text (id arithmetic:
    // text = 2·doc, image = 2·doc + 1).
    "q215_mm_interleave" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val textItems = d.select(
        (col("doc_id").cast("long") * 2L).as("item_id"),
        pmod(col("doc_id"), lit(4)).cast("long").as("stream"),
        lit("text").as("kind"), col("text"))
      val imgItems = d.filter(pmod(col("doc_id"), lit(7)) === 0)
        .select((col("doc_id").cast("long") * 2L + 1L).as("item_id"),
          pmod(col("doc_id"), lit(4)).cast("long").as("stream"),
          lit("image").as("kind"), lit("").as("text"))
      TextAnalysis.packInterleaved(
          textItems.unionByName(imgItems), "item_id", "stream", "kind",
          size(filter(tokens(col("text")),
            t => length(t) > 0)).cast("long"),
          imageTokens = 64, chunkTokens = 256)
        .orderBy(col("stream"), col("chunk_idx"))
    }),

    // ---- WORDPIECE vocabulary mining (the BERT tokenizer family — -
    // completes the triangle next to char BPE and byte BPE): every
    // substring of every corpus word ('##'-marked off word starts,
    // length ≤ 6) weighted by word frequency; vocab = ALL single-char
    // pieces (character-coverage guarantee) + top-60 multi-char by
    // (count DESC, piece ASC). Exact integer counts throughout.
    "q216_wordpiece_vocab" -> ((s, dir) => {
      WordPiece.mineVocab(t(s, dir, "documents"), "text",
          maxPieceLen = 6, topPieces = 60)
        .orderBy(col("piece"))
    }),

    // ---- WORDPIECE greedy longest-match encode: the mined vocab ----
    // applied per word via the native expression (broadcast vocab,
    // zero shuffle); every 25th doc carries an appended 20-char word
    // that trips BERT's max_input_chars_per_word=16 guard → [UNK].
    // The oracle re-mines the vocab AND replays the greedy match as
    // 16 unrolled CTE rounds (a surviving word consumes ≥ 1 char per
    // round, so 16 rounds are pigeonhole-complete).
    "q217_wordpiece_encode" -> ((s, dir) => {
      val vocab = WordPiece.mineVocab(t(s, dir, "documents"), "text",
        maxPieceLen = 6, topPieces = 60)
      WordPiece.encode(wpAugDocs(s, dir), "doc_id", "text", vocab,
          matchHorizon = 6, maxInputChars = 16)
        .orderBy(col("doc_id"), col("pos"))
    }),

    // ---- hard negatives through the PERSISTED SQ8 index (the 100 TB
    // path q212's scaladoc promises): candidates from the pruned
    // quantized query over a 10-deep over-fetch horizon, positive
    // sims from the SAME int8 scorer (codes fetched by id), then the
    // identical exclusion → margin → dense re-rank tail. q160's index
    // build (two appends + compaction) and probe convention.
    "q218_hard_negatives_indexed" -> ((s, dir) => {
      val em = t(s, dir, "embeddings")
      val nLabels = em.agg(max(col("label"))).head.getInt(0) + 1
      val idx = graft.SparkEntry.tmpDir("hn_idx")
      Ann.sq8IndexAppend(em.filter(pmod(col("vec_id"), lit(2)) === 0),
        "vec_id", "embedding", col("label"), idx, 1L)
      Ann.sq8IndexAppend(em.filter(pmod(col("vec_id"), lit(2)) === 1),
        "vec_id", "embedding", col("label"), idx, 2L)
      Ann.compactVectorIndex(s, idx, partitionCol = "cluster")
      val qs = em.filter(col("vec_id") < 8)
        .withColumn("probes", array(col("label").cast("long"),
          pmod(col("label") + 1, lit(nLabels)).cast("long")))
      val q8 = qs.select(col("vec_id").as("query_id"))
      val pairs = q8.select(col("query_id"),
          (col("query_id") + 50L).as("pos_id"))
        .unionByName(q8.select(col("query_id"),
          (col("query_id") * 3L + 100L).as("pos_id")))
      // margin 3× (random-vector fixture: positive sims sit near 0,
      // so the production 0.95× would kill everything — 3× keeps a
      // mix: 4 queries yield negatives, 4 are fully margin-killed,
      // both paths under the oracle)
      Ann.hardNegativesFromIndex(s, idx, pairs, qs, "vec_id",
          "embedding", "probes", k = 3, overfetch = 10,
          margin10k = 30000L)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- WordPiece ARTIFACT round trip: mine → save (piece table +
    // the meta row carrying matchHorizon/maxInputChars) → encode FROM
    // the artifact (its own persisted contract, not caller-re-supplied
    // convention) — bit-identical to q217 under its VERBATIM oracle
    // (the freeze contract: q161/q198's discipline for the third
    // tokenizer family).
    "q220_wordpiece_artifact" -> ((s, dir) => {
      val mined = WordPiece.mineVocab(t(s, dir, "documents"), "text",
        maxPieceLen = 6, topPieces = 60)
      val art = graft.SparkEntry.tmpDir("wp_vocab")
      WordPiece.saveVocab(mined, art, maxPieceLen = 6,
        maxInputChars = 16)
      WordPiece.encodeArtifact(s, art, wpAugDocs(s, dir), "doc_id",
          "text")
        .orderBy(col("doc_id"), col("pos"))
    }),

    // ---- WordPiece token IDS: the (piece ASC) vocabulary-intrinsic
    // id layout; [UNK] (not a mined piece) surfaces as the reserved
    // id -1, never a dropped row.
    "q221_wordpiece_ids" -> ((s, dir) => {
      val vocab = WordPiece.mineVocab(t(s, dir, "documents"), "text",
        maxPieceLen = 6, topPieces = 60)
      WordPiece.encodeIds(wpAugDocs(s, dir), "doc_id", "text", vocab,
          matchHorizon = 6, maxInputChars = 16)
        .orderBy(col("doc_id"), col("pos"))
    }),

    // ---- indexed hard-negative PRUNING RECALL (the q115/q167/q180
    // discipline: every pruning lever gets measured): q218's probed
    // mining vs the SAME exclusion/margin/re-rank tail mined
    // EXHAUSTIVELY (all clusters, horizon wider than the corpus).
    // On this random-vector fixture the 2-of-10-cluster probe
    // catches 2/24 of the exhaustive admissible negatives (≈ the
    // 20%-of-corpus expectation for structure-free vectors) — the
    // honest price of pruning, and exactly why real deployments pair
    // probes with cluster structure; widening probes/horizon is the
    // lever this lane prices.
    "q224_hn_pruning_recall" -> ((s, dir) => {
      val em = t(s, dir, "embeddings")
      val nLabels = em.agg(max(col("label"))).head.getInt(0) + 1
      val idx = graft.SparkEntry.tmpDir("hn_recall_idx")
      Ann.sq8IndexAppend(em, "vec_id", "embedding", col("label"),
        idx, 1L)
      val q8 = em.filter(col("vec_id") < 8)
      val pairs = q8.select(col("vec_id").as("query_id"))
        .select(col("query_id"), (col("query_id") + 50L).as("pos_id"))
        .unionByName(q8.select(col("vec_id").as("query_id"))
          .select(col("query_id"),
            (col("query_id") * 3L + 100L).as("pos_id")))
      val qsProbed = q8.withColumn("probes",
        array(col("label").cast("long"),
          pmod(col("label") + 1, lit(nLabels)).cast("long")))
      val qsAll = q8.withColumn("probes",
        sequence(lit(0L), lit((nLabels - 1).toLong)))
      val approx = Ann.hardNegativesFromIndex(s, idx, pairs, qsProbed,
        "vec_id", "embedding", "probes", k = 3, overfetch = 100,
        margin10k = 30000L)
      // truth = EXHAUSTIVE mining: all clusters AND a horizon wider
      // than the corpus (no over-fetch cut), so it returns the
      // genuinely best admissible negatives — the recall then prices
      // the production config's probe pruning + finite horizon
      val truth = Ann.hardNegativesFromIndex(s, idx, pairs, qsAll,
        "vec_id", "embedding", "probes", k = 3, overfetch = 500,
        margin10k = 30000L)
      Ann.recallAtK(approx, truth, 3).orderBy(col("query_id"))
    }),

    // ---- the probe-sweep companion to q224: hold k/horizon/margin
    // fixed (horizon = corpus-wide so ONLY probes vary) and widen
    // probes 2 → 5 → 10-of-10 — aggregated recall must climb to
    // exactly 10⁴ at full probes (approx ≡ truth), proving the
    // pruning lever WORKS, not just that it costs.
    "q225_hn_probe_sweep" -> ((s, dir) => {
      val em = t(s, dir, "embeddings")
      val nLabels = em.agg(max(col("label"))).head.getInt(0) + 1
      val idx = graft.SparkEntry.tmpDir("hn_sweep_idx")
      Ann.sq8IndexAppend(em, "vec_id", "embedding", col("label"),
        idx, 1L)
      val q8 = em.filter(col("vec_id") < 8)
      val pairs = q8.select(col("vec_id").as("query_id"))
        .select(col("query_id"), (col("query_id") + 50L).as("pos_id"))
        .unionByName(q8.select(col("vec_id").as("query_id"))
          .select(col("query_id"),
            (col("query_id") * 3L + 100L).as("pos_id")))
      def mine(p: Int) = Ann.hardNegativesFromIndex(s, idx, pairs,
        q8.withColumn("probes", array_distinct(transform(
          sequence(lit(0L), lit((p - 1).toLong)),
          i => pmod(col("label") + i, lit(nLabels)).cast("long")))),
        "vec_id", "embedding", "probes", k = 3, overfetch = 500,
        margin10k = 30000L)
      val truth = mine(nLabels)
      Seq(2, 5, nLabels).map { p =>
        Ann.recallAtK(mine(p), truth, 3)
          .agg(count(lit(1)).as("n_queries"),
            sum(col("n_hit")).as("sum_hit"))
          .select(lit(p.toLong).as("n_probes"), col("n_queries"),
            col("sum_hit"),
            expr("sum_hit * 10000L div (3L * n_queries)")
              .as("recall_10k"))
      }.reduce(_.unionByName(_)).orderBy(col("n_probes"))
    }),

    // ---- SFT DECONTAMINATION: rendered conversations fuzzy-checked
    // against the eval-suite signature index — the audit a real SFT
    // corpus runs (an assistant turn QUOTING a benchmark item is
    // contamination no exact template match sees). Every 50th
    // conversation's last turn is PLANTED with a benchmark document's
    // text; the per-conversation report must flag exactly what the
    // oracle's signature replay flags.
    "q223_sft_decon" -> ((s, dir) => {
      val (turns, fz) = sftPlantedTurns(s, dir)
      val rendered = Conversations.render(turns, "conv_id",
          "turn_idx", "role", "text")
        .select((col("conv_id") + 1000000L).as("conv_id"), col("text"))
      TextAnalysis.fuzzyDecontaminateIncremental(s, fz, rendered,
          "conv_id", "text", shingleN = 2, numPerm = 64, bands = 32,
          threshold = 0.5, seed = 42L)
        .orderBy(col("doc_id"))
    }),

    // ---- SFT context-window truncation: first turn + the longest
    // fitting SUFFIX of later turns (middles dropped whole-turn, the
    // chat-trainer rule), spans recomputed over what remains. Budget
    // 12 bites on most fixture conversations (totals run 12–24).
    "q222_sft_truncate" -> ((s, dir) => {
      Conversations.truncate(sftTurns(s, dir),
          "conv_id", "turn_idx", "role", "text", maxTokens = 12L)
        .orderBy(col("conv_id"), col("turn_idx"))
    }),

    // ---- the SFT VERTICAL composed: turns → rendered conversations
    // → fixed-chunk packing layout (the q87 cumsum over q214's
    // rendered documents, 4 streams by conv arithmetic) — one oracle
    // over the whole chain: a single token-width drift upstream
    // shifts every offset downstream.
    "q219_sft_pack" -> ((s, dir) => {
      val rendered = Conversations.render(sftTurns(s, dir),
          "conv_id", "turn_idx", "role", "text")
        .withColumn("stream", pmod(col("conv_id"), lit(4)))
      TextAnalysis.packSequencesByCount(rendered, "conv_id", "stream",
          col("n_tokens"), chunkTokens = 64)
        .orderBy(col("stream"), col("doc_id"))
    }),

    // ---- the SFT vertical THROUGH THE STREAMING ENGINE (the q127/
    // q165 discipline for the conversation half): every
    // conversation's turns split across two micro-batches, plus an
    // at-least-once redelivered slice, fold into SftStream's layer
    // state — and the rendered+packed artifact over the merged state
    // hash-matches the one-shot batch oracle VERBATIM (q219's).
    "q226_sft_pack_streamed" -> ((s, dir) => {
      val rendered = Conversations.render(
          sftStreamState(s, sftTurns(s, dir)),
          "conv_id", "turn_idx", "role", "text")
        .withColumn("stream", pmod(col("conv_id"), lit(4)))
      TextAnalysis.packSequencesByCount(rendered, "conv_id", "stream",
          col("n_tokens"), chunkTokens = 64)
        .orderBy(col("stream"), col("doc_id"))
    }),

    // ---- streamed SFT DECONTAMINATION: the q223 audit with the
    // planted turns arriving through the real engine (split +
    // redelivery as above) — q223's oracle VERBATIM.
    "q227_sft_decon_streamed" -> ((s, dir) => {
      val (turns, fz) = sftPlantedTurns(s, dir)
      val rendered = Conversations.render(sftStreamState(s, turns),
          "conv_id", "turn_idx", "role", "text")
        .select((col("conv_id") + 1000000L).as("conv_id"), col("text"))
      TextAnalysis.fuzzyDecontaminateIncremental(s, fz, rendered,
          "conv_id", "text", shingleN = 2, numPerm = 64, bands = 32,
          threshold = 0.5, seed = 42L)
        .orderBy(col("doc_id"))
    }),

    // ---- PREFERENCE-PAIR (DPO) ASSEMBLY, the full chain: chosen =
    // argmax labeled positive, rejected = hard negatives (q212's
    // margin-disciplined miner), preference-gap filter in s4
    // integers, prompt-side fuzzy DECON vs the benchmark index (the
    // q223 shape: prompt 0's text IS a benchmark document — the
    // planted victim the gate must kill). One oracle replays mining,
    // chosen pick, gap, rank, and the decon anti-join end to end.
    "q228_dpo_pairs" -> ((s, dir) => {
      import graft.operators.Preference
      val em = t(s, dir, "embeddings")
      val q8 = em.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"))
      val pairs = q8.select(col("query_id"),
          (col("query_id") + 50L).as("pos_id"))
        .unionByName(q8.select(col("query_id"),
          (col("query_id") * 3L + 100L).as("pos_id")))
      val negs = Ann.hardNegatives(pairs, em, "vec_id", "embedding",
        k = 5, margin10k = 9000L)
      val d = t(s, dir, "documents")
      val bench = d.filter(pmod(col("doc_id"), lit(20)) === 0)
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val fz = graft.SparkEntry.tmpDir("dpo_decon")
      TextAnalysis.buildFuzzyBenchmarkIndex(bench, "doc_id", "text",
        shingleN = 2, numPerm = 64, seed = 42L, indexDir = fz)
      val prompts = d.filter(col("doc_id") < 8)
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val contaminated = TextAnalysis.fuzzyDecontaminateIncremental(
          s, fz, prompts, "doc_id", "text", shingleN = 2, numPerm = 64,
          bands = 32, threshold = 0.5, seed = 42L)
        .filter(col("contaminated"))
        .select(col("doc_id").as("prompt_id"))
      Preference.assemble(pairs, negs, em, "vec_id", "embedding",
          minGap10k = 50L, pairsPerPrompt = 2)
        .join(contaminated, Seq("prompt_id"), "left_anti")
        .orderBy(col("prompt_id"), col("pair_rank"))
    }),

    // ---- UNIGRAM-LM tokenizer (SentencePiece family), completing
    // the tokenizer SQUARE: frequency-mined piece table with
    // 10^4-scaled integer probability scores (the documented
    // EM-training stand-in — Unigram.scala scaladoc).
    "q230_unigram_vocab" -> ((s, dir) => {
      import graft.operators.Unigram
      Unigram.scores(Unigram.mineVocab(t(s, dir, "documents"), "text",
          maxPieceLen = 6, topPieces = 60))
        .orderBy(col("piece"))
    }),

    // ---- Unigram ENCODE: max-product Viterbi per word (exact
    // BigInteger products of s10k scores compared under the
    // common-length normalization — UnigramApply scaladoc; ties:
    // fewer pieces then lexicographic) via the native expression
    // over a broadcast table. maxInputChars = 9 keeps the oracle's
    // full-enumeration replay in HUGEINT (normalized key ≤ 10001^9
    // < 2^127) — longer words [UNK] whole on both sides (every 25th
    // doc carries the 20-char tripwire).
    "q231_unigram_encode" -> ((s, dir) => {
      import graft.operators.Unigram
      val vocab = Unigram.mineVocab(t(s, dir, "documents"), "text",
        maxPieceLen = 6, topPieces = 60)
      Unigram.encode(wpAugDocs(s, dir), "doc_id", "text", vocab,
          matchHorizon = 6, maxInputChars = 9)
        .orderBy(col("doc_id"), col("pos"))
    }),

    // ---- Unigram ARTIFACT round trip: mine → save ((piece, cnt)
    // parquet + the meta row carrying matchHorizon/maxInputChars —
    // scores are vocabulary-intrinsic, no floats at rest) → encode
    // FROM the artifact (its own persisted contract), bit-identical
    // to q231 under its VERBATIM oracle (the q161/q198/q220 freeze
    // contract).
    "q232_unigram_artifact" -> ((s, dir) => {
      import graft.operators.Unigram
      val mined = Unigram.mineVocab(t(s, dir, "documents"), "text",
        maxPieceLen = 6, topPieces = 60)
      val art = graft.SparkEntry.tmpDir("ug_vocab")
      Unigram.saveVocab(mined, art, maxPieceLen = 6,
        maxInputChars = 9)
      Unigram.encodeArtifact(s, art, wpAugDocs(s, dir), "doc_id",
          "text")
        .orderBy(col("doc_id"), col("pos"))
    }),

    // ---- WIRE → SFT BRIDGE: the clinical-wire half feeds the
    // training-data half under ONE oracle (the q195/q204 composition
    // precedent for conversations): the q75 forms vertical's folded
    // Q&A star — question names from the metadata dim, placeholders
    // surfacing as raw ids, the NEWER-ONLY re-file winning — renders
    // as chat turns (user asks the question, assistant answers) and
    // runs the q213 span assembly. The oracle re-derives every turn
    // from orders arithmetic, so the forms fold, the dim joins, the
    // placeholder rule AND the span cumsum all have to agree.
    "q233_wire_sft" -> ((s, dir) =>
      Conversations.spans(formsTurns(s, dir), "conv_id", "turn_idx",
          "role", "text")
        .orderBy(col("conv_id"), col("turn_idx"))),

    // ---- the bridge THROUGH THE STREAMING ENGINE: q233's turns
    // arrive via SftStream (split across micro-batches + an
    // at-least-once redelivered slice, the q226 harness) — the wire
    // fold, the turn rendering AND the streamed assembly compose
    // under q233's oracle VERBATIM.
    "q237_wire_sft_streamed" -> ((s, dir) =>
      Conversations.spans(sftStreamState(s, formsTurns(s, dir)),
          "conv_id", "turn_idx", "role", "text")
        .orderBy(col("conv_id"), col("turn_idx"))),

    // ---- Unigram token IDS: the (piece ASC) vocabulary-intrinsic
    // layout, [UNK] → reserved -1 via the left join (q221's contract
    // for the fourth tokenizer).
    "q234_unigram_ids" -> ((s, dir) => {
      import graft.operators.Unigram
      val vocab = Unigram.mineVocab(t(s, dir, "documents"), "text",
        maxPieceLen = 6, topPieces = 60)
      Unigram.encodeIds(wpAugDocs(s, dir), "doc_id", "text", vocab,
          matchHorizon = 6, maxInputChars = 9)
        .orderBy(col("doc_id"), col("pos"))
    }),

    // ---- DPO assembly over the PERSISTED-INDEX miner (the 100 TB
    // path composed): rejected candidates from q218's probed
    // quantized reads, CHOSEN re-scored EXACTLY on the dense vectors
    // (|pairs| rows — production re-ranks the tiny labeled side
    // exactly while the corpus side stays int8), gap + rank on top.
    "q235_dpo_pairs_indexed" -> ((s, dir) => {
      import graft.operators.Preference
      val em = t(s, dir, "embeddings")
      val nLabels = em.agg(max(col("label"))).head.getInt(0) + 1
      val idx = graft.SparkEntry.tmpDir("dpo_idx")
      Ann.sq8IndexAppend(em.filter(pmod(col("vec_id"), lit(2)) === 0),
        "vec_id", "embedding", col("label"), idx, 1L)
      Ann.sq8IndexAppend(em.filter(pmod(col("vec_id"), lit(2)) === 1),
        "vec_id", "embedding", col("label"), idx, 2L)
      Ann.compactVectorIndex(s, idx, partitionCol = "cluster")
      val qs = em.filter(col("vec_id") < 8)
        .withColumn("probes", array(col("label").cast("long"),
          pmod(col("label") + 1, lit(nLabels)).cast("long")))
      val q8 = qs.select(col("vec_id").as("query_id"))
      val pairs = q8.select(col("query_id"),
          (col("query_id") + 50L).as("pos_id"))
        .unionByName(q8.select(col("query_id"),
          (col("query_id") * 3L + 100L).as("pos_id")))
      val negs = Ann.hardNegativesFromIndex(s, idx, pairs, qs,
        "vec_id", "embedding", "probes", k = 3, overfetch = 10,
        margin10k = 30000L)
      // gap −2.0: ADMIT every mined negative — on this structure-free
      // fixture the dense-chosen vs int8-rejected gap at 0 kills all
      // pairs (rejected sims sit at/above the near-zero chosen sims);
      // the gap DISCIPLINE is q228's subject — this lane's subject is
      // the composition with the quantized miner, which needs rows
      Preference.assemble(pairs, negs, em, "vec_id", "embedding",
          minGap10k = -20000L, pairsPerPrompt = 2)
        .orderBy(col("prompt_id"), col("pair_rank"))
    }),

    // ---- TOKEN-BUDGET MIXTURE: the unit real data mixes are bought
    // in — per-lang token budgets (en 40k / es 6k; de has no budget
    // and drops whole), docs taken in the frozen-hash order while
    // they START within budget (the boundary doc kept whole — a doc
    // is indivisible). The doc-count mixture (q96 family) stays for
    // count-capped audits; this is the training-run form.
    "q239_token_mixture" -> ((s, dir) => {
      import graft.functions.GraftFunctions.tokens
      val d = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("lang"),
          col("text"))
      TextAnalysis.tokenMixture(d, "doc_id", "lang",
          size(filter(tokens(col("text")), t => length(t) > 0))
            .cast("long"),
          Map("en" -> 40000L, "es" -> 6000L))
        .orderBy(col("lang"), col("tok_rank"))
    }),

    // ---- the ALIGN-GATED recipe THROUGH THE STREAMING ENGINE (the
    // q127 discipline for the new gate): the scored train docs
    // arrive via the real foreachBatch query in two micro-batches —
    // the per-doc-pure gate must make boundaries invisible; q229's
    // oracle VERBATIM.
    "q241_curation_aligngate_streamed" -> ((s, dir) => {
      import s.implicits._
      val d = t(s, dir, "documents")
      val cfg = curationFixture(s, dir, align = true, fold = false)
      val train = d.filter(pmod(col("doc_id"), lit(20)) =!= 0)
        .select(col("doc_id").cast("long").as("doc_id"), col("lang"),
          col("text"))
        .join(alignFixtureScores(s, d), Seq("doc_id"), "left")
      // test-scale collect feeding the MemoryStream (q165 convention)
      val rows = train
        .select(col("doc_id"), col("lang"), col("text"),
          col("align_s4"))
        .collect().map(r => (r.getLong(0), r.getString(1),
          r.getString(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3))))
      val ms = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, String, String, Option[Long])](s)
      val q = graft.streaming.CurationStream.start(
        ms.toDF().toDF("doc_id", "lang", "text", "align_s4"), cfg,
        graft.SparkEntry.tmpDir("align_ck"))
      ms.addData(rows.filter(_._1 % 2 == 1).toSeq)
      q.processAllAvailable()
      ms.addData(rows.filter(_._1 % 2 == 0).toSeq)
      q.processAllAvailable()
      q.stop()
      graft.streaming.CurationStream.select(s, cfg, CurationTargets)
        .orderBy(col("doc_id"))
    }),

    // ---- EVERY gate at once INCLUDING the cross-modal pair: funnel
    // → exact + fuzzy decon → span → near-dup → image near-dup →
    // caption-image alignment → DSIR → mixture in ONE config — and
    // the lane outputs the STAGE REPORT, so every gate's drop COUNT
    // (incl. c3_align_drop) must be exactly right, not just the
    // 11-doc final selection (which the brutal DSIR/mixture cut
    // leaves insensitive to any single gate's marginal victims).
    "q242_curation_every_gate" -> ((s, dir) => {
      graft.streaming.CurationStream.selectReport(s,
          curationFixture(s, dir, funnel = true, fuzzy = true,
            image = true, align = true),
          CurationTargets)
        .orderBy(col("stage"))
    }),

    // ---- HARD-NEGATIVE MARGIN SWEEP (the q236/q225 measure-the-
    // knob discipline for the false-negative margin the q212/q218/
    // q228 chains ride): margins 0.9 / 3.0 / 10.0 of the best-
    // positive sim, k/exclusions constant. Measured at sf0.01:
    // 8q/40n → 8q/40n → 5q/25n — NOT monotone, and that is the
    // point: this structure-free fixture gives 3 queries a NEGATIVE
    // best-positive sim, where the multiplicative margin flips
    // direction (the hardNegatives scaladoc's documented caveat,
    // here measured live) — the reason margins are per-corpus knobs,
    // not universal constants.
    "q245_hn_margin_sweep" -> ((s, dir) => {
      val em = t(s, dir, "embeddings")
      val q8 = em.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"))
      val pairs = q8.select(col("query_id"),
          (col("query_id") + 50L).as("pos_id"))
        .unionByName(q8.select(col("query_id"),
          (col("query_id") * 3L + 100L).as("pos_id")))
      Seq(9000L, 30000L, 100000L).map { m =>
        Ann.hardNegatives(pairs, em, "vec_id", "embedding", k = 5,
            margin10k = m)
          .agg(countDistinct(col("query_id")).as("n_queries"),
            count(lit(1)).as("n_negatives"))
          .select(lit(m).as("margin10k"), col("n_queries"),
            col("n_negatives"))
      }.reduce(_.unionByName(_)).orderBy(col("margin10k"))
    }),

    // ---- EXTENSION-STABLE VOCABULARY IDS: the continued-pretraining
    // contract. The frozen (piece ASC) rank layout renumbers every id
    // after any insert — extending a vocab with new-domain pieces
    // (the standard domain-adaptation move) would silently invalidate
    // every previously tokenized shard. The append-only allocator
    // keeps every base id BIT-STABLE (retired pieces included) and
    // numbers new pieces after the base max; this lane proves the
    // arithmetic: base vocab mined from the EVEN docs, extended vocab
    // from the full corpus, output = the allocation with its is_new
    // provenance — one changed base id or one renumber = hash fail.
    "q246_wordpiece_extend_ids" -> ((s, dir) => {
      import graft.operators.TokenizerArtifact
      val d = t(s, dir, "documents")
      val base = WordPiece.mineVocab(
        d.filter(pmod(col("doc_id"), lit(2)) === 0), "text",
        maxPieceLen = 6, topPieces = 60)
      val baseIds = WordPiece.vocabIds(base)
      val ext = WordPiece.mineVocab(d, "text", maxPieceLen = 6,
        topPieces = 60)
      TokenizerArtifact.extendIds(baseIds, ext)
        .join(baseIds.select(col("piece"), lit(1L).as("__old")),
          Seq("piece"), "left")
        .select(col("piece"), col("piece_id"),
          when(col("__old").isNull, 1L).otherwise(0L).as("is_new"))
        .orderBy(col("piece_id"))
    }),

    // ---- the allocator THROUGH THE FULL ENCODE + ARTIFACT round
    // trip (the judge-specified done-condition): mine base (even
    // docs), extend with the full corpus, persist the extended
    // artifact (pieces + meta + append-only ids), load, encode to
    // ids — the oracle re-derives BOTH minings, the allocator
    // arithmetic AND the Viterbi encode, so a single base-id shift
    // or a horizon drift in the round trip is a hash fail.
    "q247_unigram_extend_encode" -> ((s, dir) => {
      import graft.operators.{TokenizerArtifact, Unigram}
      val d = t(s, dir, "documents")
      val base = Unigram.mineVocab(
        d.filter(pmod(col("doc_id"), lit(2)) === 0), "text",
        maxPieceLen = 6, topPieces = 60)
      val ext = Unigram.mineVocab(d, "text", maxPieceLen = 6,
        topPieces = 60)
      val extIds = TokenizerArtifact.extendIds(
        Unigram.vocabIds(base), ext)
      val art = graft.SparkEntry.tmpDir("ug_ext")
      Unigram.saveVocab(ext, art, maxPieceLen = 6, maxInputChars = 9)
      TokenizerArtifact.saveIds(extIds, art)
      Unigram.encodeIdsArtifact(s, art, wpAugDocs(s, dir), "doc_id",
          "text")
        .orderBy(col("doc_id"), col("pos"))
    }),

    // ---- the DPO vertical THROUGH THE STREAMING ENGINE (the last
    // batch-only vertical closed — the q226/q237/q241 discipline):
    // q228's labeled pairs and mined negatives arrive via
    // PreferenceStream as one envelope stream — split across two
    // micro-batches by query parity plus an at-least-once redelivered
    // slice, sims persisted as s4 integers — and the assembly over
    // the merged state (chosen pick + gap + rank + the prompt decon
    // anti-join) hash-matches q228's one-shot oracle VERBATIM.
    "q248_dpo_pairs_streamed" -> ((s, dir) => {
      import graft.operators.Preference
      val em = t(s, dir, "embeddings")
      val q8 = em.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"))
      val pairs = q8.select(col("query_id"),
          (col("query_id") + 50L).as("pos_id"))
        .unionByName(q8.select(col("query_id"),
          (col("query_id") * 3L + 100L).as("pos_id")))
      val negs = Ann.hardNegatives(pairs, em, "vec_id", "embedding",
        k = 5, margin10k = 9000L)
      val (pSt, nSt) = prefStreamState(s, pairs, negs)
      val d = t(s, dir, "documents")
      val bench = d.filter(pmod(col("doc_id"), lit(20)) === 0)
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val fz = graft.SparkEntry.tmpDir("dpo_decon_st")
      TextAnalysis.buildFuzzyBenchmarkIndex(bench, "doc_id", "text",
        shingleN = 2, numPerm = 64, seed = 42L, indexDir = fz)
      val prompts = d.filter(col("doc_id") < 8)
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val contaminated = TextAnalysis.fuzzyDecontaminateIncremental(
          s, fz, prompts, "doc_id", "text", shingleN = 2, numPerm = 64,
          bands = 32, threshold = 0.5, seed = 42L)
        .filter(col("contaminated"))
        .select(col("doc_id").as("prompt_id"))
      Preference.assemble(pSt, nSt, em, "vec_id", "embedding",
          minGap10k = 50L, pairsPerPrompt = 2)
        .join(contaminated, Seq("prompt_id"), "left_anti")
        .orderBy(col("prompt_id"), col("pair_rank"))
    }),

    // ---- SFT LAYER COMPACTION (the maintenance lane the 100 TB
    // scaladoc path promised — the q64/q65 family for the turn
    // store): fold turns in two layers, COMPACT to one, and the span
    // assembly over the compacted state replays q213's oracle
    // VERBATIM. The crash-window argument is structural (merged +
    // old layers coexisting only duplicate rows, which the read side
    // collapses) — the spec proves it by reading mid-window.
    "q254_sft_compacted" -> ((s, dir) => {
      import graft.streaming.SftStream
      val cfg = SftStream.Config(graft.SparkEntry.tmpDir("sft_cmp"))
      val turns = sftTurns(s, dir)
      SftStream.foldBatch(
        turns.filter(pmod(col("turn_idx"), lit(2)) === 0), 1L, cfg)
      SftStream.foldBatch(
        turns.filter(pmod(col("turn_idx"), lit(2)) === 1), 2L, cfg)
      SftStream.compactTurns(s, cfg)
      Conversations.spans(SftStream.turnsState(s, cfg), "conv_id",
          "turn_idx", "role", "text")
        .orderBy(col("conv_id"), col("turn_idx"))
    }),

    // ---- UNIGRAM N-BEST LISTING (Kudo 2018 §4's prerequisite): the
    // top-4 segmentations per distinct corpus word under the exact
    // total order — rank 1 is q231's argmax by construction; the
    // oracle full-enumerates every segmentation in HUGEINT and
    // replays the whole ranked list, so one mis-ordered tie anywhere
    // in the n-best DP is a hash fail. Over-length words list the
    // single [UNK].
    "q252_unigram_nbest" -> ((s, dir) => {
      import graft.operators.Unigram
      val vocab = Unigram.mineVocab(t(s, dir, "documents"), "text",
        maxPieceLen = 6, topPieces = 60)
      Unigram.nBest(wpAugDocs(s, dir), "text", vocab,
          matchHorizon = 6, maxInputChars = 9, nBest = 4)
        .orderBy(col("tok"), col("nbest_rank"))
    }),

    // ---- SUBWORD-REGULARIZATION SAMPLING ENCODE: the training-time
    // regularizer — each word takes a seeded draw among its top-4
    // segmentations instead of the argmax (draw = the oracle-portable
    // polyHash(word∥'|ugs'∥seed) mod |available|: deterministic per
    // (word, seed), different across seeds — the exact-arithmetic
    // stand-in for Kudo's ∝pᵅ sampling, documented in
    // UnigramSampleBroadcast's scaladoc). Same stream shape as q231;
    // the oracle replays enumeration, ranking AND the draw.
    "q253_unigram_sampled" -> ((s, dir) => {
      import graft.operators.Unigram
      val vocab = Unigram.mineVocab(t(s, dir, "documents"), "text",
        maxPieceLen = 6, topPieces = 60)
      Unigram.encodeSampled(wpAugDocs(s, dir), "doc_id", "text",
          vocab, matchHorizon = 6, maxInputChars = 9, nBestN = 4,
          seed = 42L)
        .orderBy(col("doc_id"), col("pos"))
    }),

    // ---- CROSS-MODAL RETRIEVAL (the CLIP-retrieval artifact q229's
    // alignment gate and q215's interleaved packer both assume
    // upstream): caption hash-embeddings query a PERSISTED SQ8 index
    // of image luma-hist features — probed-partition reads, codes not
    // vectors, the q193/q218 machinery pointed across modalities.
    // Query ids ride a +5·10⁶ offset so a caption retrieving ITS OWN
    // image (the point of CLIP retrieval) is never self-excluded.
    "q250_xmodal_retrieval" -> ((s, dir) => {
      import graft.functions.GraftFunctions.{l2Norm, toDoubleVec}
      val d = t(s, dir, "documents")
      val (emb0, hists) = alignFixtureFeatures(s, d)
      val emb = emb0.filter(l2Norm(toDoubleVec(col("emb"))) > 0)
      val corpus = hists.join(emb.select("doc_id"), Seq("doc_id"))
      val idx = graft.SparkEntry.tmpDir("xmodal_idx")
      Ann.sq8IndexAppend(corpus, "doc_id", "hist",
        pmod(expr("doc_id div 5"), lit(4L)), idx, 1L)
      val qs = emb.filter(pmod(col("doc_id"), lit(20)) === 0)
        .select((col("doc_id") + 5000000L).as("query_id"), col("emb"),
          array(pmod(expr("doc_id div 5"), lit(4L)),
            pmod(expr("doc_id div 5") + 1L, lit(4L))).as("probes"))
      Ann.sq8IndexQuery(s, idx, qs, "query_id", "emb", "probes", k = 3)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- the retrieval's PRUNING RECALL (the q224/q225 discipline
    // pointed at the cross-modal index): the production 2-of-4-probe
    // config vs the all-probes truth, per-query — the measured price
    // of partition pruning on this index before anyone trusts it at
    // 100 TB.
    "q251_xmodal_recall" -> ((s, dir) => {
      import graft.functions.GraftFunctions.{l2Norm, toDoubleVec}
      val d = t(s, dir, "documents")
      val (emb0, hists) = alignFixtureFeatures(s, d)
      val emb = emb0.filter(l2Norm(toDoubleVec(col("emb"))) > 0)
      val corpus = hists.join(emb.select("doc_id"), Seq("doc_id"))
      val idx = graft.SparkEntry.tmpDir("xmodal_rec_idx")
      Ann.sq8IndexAppend(corpus, "doc_id", "hist",
        pmod(expr("doc_id div 5"), lit(4L)), idx, 1L)
      def qs(probes: Column) =
        emb.filter(pmod(col("doc_id"), lit(20)) === 0)
          .select((col("doc_id") + 5000000L).as("query_id"),
            col("emb"), probes.as("probes"))
      val approx = Ann.sq8IndexQuery(s, idx,
        qs(array(pmod(expr("doc_id div 5"), lit(4L)),
          pmod(expr("doc_id div 5") + 1L, lit(4L)))),
        "query_id", "emb", "probes", k = 3)
      val truth = Ann.sq8IndexQuery(s, idx,
        qs(sequence(lit(0L), lit(3L))),
        "query_id", "emb", "probes", k = 3)
      Ann.recallAtK(approx, truth, 3).orderBy(col("query_id"))
    }),

    // ---- the cross-modal index through the INCREMENTAL lifecycle
    // (the q235/q122 discipline pointed at q250): image features
    // appended in two batches, layers COMPACTED, then the same
    // caption queries — q250's oracle VERBATIM: the lifecycle must be
    // invisible in the retrieval.
    "q255_xmodal_incremental" -> ((s, dir) => {
      import graft.functions.GraftFunctions.{l2Norm, toDoubleVec}
      val d = t(s, dir, "documents")
      val (emb0, hists) = alignFixtureFeatures(s, d)
      val emb = emb0.filter(l2Norm(toDoubleVec(col("emb"))) > 0)
      val corpus = hists.join(emb.select("doc_id"), Seq("doc_id"))
      val idx = graft.SparkEntry.tmpDir("xmodal_inc_idx")
      val cl = pmod(expr("doc_id div 5"), lit(4L))
      Ann.sq8IndexAppend(
        corpus.filter(pmod(expr("doc_id div 5"), lit(2)) === 0),
        "doc_id", "hist", cl, idx, 1L)
      Ann.sq8IndexAppend(
        corpus.filter(pmod(expr("doc_id div 5"), lit(2)) === 1),
        "doc_id", "hist", cl, idx, 2L)
      Ann.compactVectorIndex(s, idx, partitionCol = "cluster")
      val qs = emb.filter(pmod(col("doc_id"), lit(20)) === 0)
        .select((col("doc_id") + 5000000L).as("query_id"), col("emb"),
          array(pmod(expr("doc_id div 5"), lit(4L)),
            pmod(expr("doc_id div 5") + 1L, lit(4L))).as("probes"))
      Ann.sq8IndexQuery(s, idx, qs, "query_id", "emb", "probes", k = 3)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- the nBest KNOB priced (the q236/q245 measure-the-knob
    // discipline for the new sampling knob): total sampled token
    // count as nBest widens 1 → 2 → 4 → 8. nBest = 1 must equal the
    // argmax stream's count EXACTLY (the degenerate draw), and the
    // curve upward is the regularizer's cost in tokens — the number
    // a 100 TB training run budgets before turning the knob.
    "q256_unigram_nbest_sweep" -> ((s, dir) => {
      import graft.operators.Unigram
      val vocab = Unigram.mineVocab(t(s, dir, "documents"), "text",
        maxPieceLen = 6, topPieces = 60)
      Seq(1, 2, 4, 8).map { nb =>
        Unigram.encodeSampled(wpAugDocs(s, dir), "doc_id", "text",
            vocab, matchHorizon = 6, maxInputChars = 9, nBestN = nb,
            seed = 42L)
          .agg(count(lit(1)).as("n_tokens"))
          .select(lit(nb.toLong).as("n_best"), col("n_tokens"))
      }.reduce(_.unionByName(_)).orderBy(col("n_best"))
    }),

    // ---- SPLIT-LEAKAGE AUDIT: near-dup pairs STRADDLING a split
    // boundary are the leakage that inflates eval numbers — exact-id
    // hash splitting can't see them. Every 40th doc gets a planted
    // near-copy (id + 10⁶, a 3-token tail appended) whose own id
    // hashes into whatever split it lands in; the audit composes
    // q113's split with the q21-family banding and must count every
    // straddling pair exactly — the within-split rows are the benign
    // baseline the boundary rows read against.
    "q249_split_leakage" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val planted = d.filter(pmod(col("doc_id"), lit(40)) === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(col("text"), lit(" extra tail tokens")).as("text"))
      TextAnalysis.splitLeakageAudit(d.unionByName(planted),
          "doc_id", "text",
          Seq("train" -> 8000L, "val" -> 1000L, "test" -> 1000L),
          shingleN = 2, numPerm = 64, bands = 32, threshold = 0.5,
          seed = 42L)
        .orderBy(col("split_a"), col("split_b"))
    }),

    // ---- the split-leakage audit over the INCREMENTAL signature
    // state (the 100 TB path load-bearing): signatures fold batch by
    // batch (the q54 state — the planted copies land in a DIFFERENT
    // batch than their originals: +10⁶ shifts doc_id mod 3), the
    // pair stream comes from the folds, and the report over the
    // union replays q249's one-shot oracle VERBATIM.
    "q257_split_leakage_incremental" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val planted = d.filter(pmod(col("doc_id"), lit(40)) === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(col("text"), lit(" extra tail tokens")).as("text"))
      val all = d.unionByName(planted)
      val b0 = all.filter(pmod(col("doc_id"), lit(3)) === 0)
      val b1 = all.filter(pmod(col("doc_id"), lit(3)) =!= 0)
      val s0 = Dedup.emptyMinhashState(all, "doc_id", "text",
        shingleN = 2, numPerm = 64, bands = 32, portable = true)
      val (p0, st1r) = Dedup.incrementalMinhash(s0, b0, "doc_id",
        "text", shingleN = 2, numPerm = 64, bands = 32,
        estThreshold = 0.5, portable = true)
      val st1 = Dedup.MinhashState(st1r.signatures.localCheckpoint(),
        st1r.buckets.localCheckpoint())
      val (p1, _) = Dedup.incrementalMinhash(st1, b1, "doc_id",
        "text", shingleN = 2, numPerm = 64, bands = 32,
        estThreshold = 0.5, portable = true)
      TextAnalysis.splitLeakageFromPairs(p0.unionByName(p1),
          all, "doc_id",
          Seq("train" -> 8000L, "val" -> 1000L, "test" -> 1000L))
        .orderBy(col("split_a"), col("split_b"))
    }),

    // ---- the allocator on the THIRD id layout — BPE's |Σ|+step
    // table, where the footgun is sharpest: a NEW CHARACTER in the
    // extension corpus inserts into the binary-ranked alphabet and
    // under the frozen layout renumbers EVERY merge product (nBase
    // shifts by one). Base = chars+merges trained on the even docs,
    // ext = the full corpus; the allocator keeps every base id
    // bit-stable and appends ext-only tokens after the max.
    "q259_bpe_extend_ids" -> ((s, dir) => {
      import graft.operators.TokenizerArtifact
      val d = t(s, dir, "documents")
      def vocabOf(src: DataFrame) = {
        val merges = TextAnalysis.bpeTrain(src, "text", numMerges = 20)
          .orderBy(col("step")).collect()
          .map(r => r.getAs[String]("left") -> r.getAs[String]("right"))
          .toSeq
        TextAnalysis.bpeVocab(src, "text", merges)
      }
      val baseIds = vocabOf(d.filter(pmod(col("doc_id"), lit(2)) === 0))
      val ext = vocabOf(d)
      TokenizerArtifact.extendIds(baseIds, ext, pieceCol = "token",
          idCol = "token_id")
        .join(baseIds.select(col("token"), lit(1L).as("__old")),
          Seq("token"), "left")
        .select(col("token"), col("token_id"),
          when(col("__old").isNull, 1L).otherwise(0L).as("is_new"))
        .orderBy(col("token_id"), col("token"))
    }),

    // ---- LENGTH-BUCKETED BATCH ASSEMBLY (group_by_length): the
    // padded-batching counterpart of the packing tier — SFT/seq2seq
    // fine-tunes pad to the batch max, so batching random lengths
    // together pays max-for-every-row; bucketing by length bounds
    // the waste while the frozen-hash within-bucket order keeps the
    // shuffle. Manifest per (bucket, batch): sizes, widths and the
    // exact pad_tokens a trainer pays.
    "q260_length_batches" -> ((s, dir) => {
      import graft.functions.GraftFunctions.tokens
      TextAnalysis.lengthBucketedBatches(
          t(s, dir, "documents"), "doc_id",
          size(filter(tokens(col("text")), t => length(t) > 0)),
          bucketTokens = 16L, batchSize = 4)
        .orderBy(col("bucket"), col("batch_idx"))
    }),

    // ---- the bucket-width KNOB priced (the q236/q245/q256
    // discipline): one huge bucket (= unbucketed random batching) vs
    // 64- vs 16-token bands — total padded tokens and the
    // parts-per-10⁴ waste of the padded slots must fall
    // monotonically as the bands narrow; the measured saving is the
    // number that justifies the extra Exchange at 100 TB.
    "q261_length_bucket_sweep" -> ((s, dir) => {
      import graft.functions.GraftFunctions.tokens
      Seq(1000000L, 64L, 16L).map { bt =>
        TextAnalysis.lengthBucketedBatches(
            t(s, dir, "documents"), "doc_id",
            size(filter(tokens(col("text")), t => length(t) > 0)),
            bucketTokens = bt, batchSize = 4)
          .agg(count(lit(1)).as("n_batches"),
            sum(col("pad_tokens")).as("pad_tokens"),
            sum(col("n_docs") * col("max_tokens")).as("__slots"))
          .select(lit(bt).as("bucket_tokens"), col("n_batches"),
            col("pad_tokens"),
            expr("pad_tokens * 10000L div __slots").as("pad_10k"))
      }.reduce(_.unionByName(_)).orderBy(col("bucket_tokens"))
    }),

    // ---- DECODE — the inverse of the id encode, and the lane that
    // makes the allocator's "old shards keep decoding" guarantee
    // LOAD-BEARING: the shard is encoded under the BASE artifact
    // (even docs — the corpus that existed before the extension), the
    // ENGINE decodes it with the EXTENDED id table, and the oracle
    // decodes with the frozen base rank — the hash match IS the
    // guarantee (extendIds keeps every base (piece, id) row
    // bit-stable, so the extension is invisible to old shards).
    // Decoded pieces regroup into words ('##' strips and appends;
    // [UNK] — the augmented 20-char word — surfaces whole).
    "q262_wordpiece_decode" -> ((s, dir) => {
      import graft.operators.TokenizerArtifact
      val d = t(s, dir, "documents")
      val even = d.filter(pmod(col("doc_id"), lit(2)) === 0)
      val base = WordPiece.mineVocab(even, "text", maxPieceLen = 6,
        topPieces = 60)
      val baseIds = WordPiece.vocabIds(base)
      val ext = WordPiece.mineVocab(d, "text", maxPieceLen = 6,
        topPieces = 60)
      val extIds = TokenizerArtifact.extendIds(baseIds, ext)
      val shard = WordPiece.encodeIdsWith(
        wpAugDocs(s, dir).filter(pmod(col("doc_id"), lit(2)) === 0),
        "doc_id", "text", base, baseIds,
        matchHorizon = 6, maxInputChars = 9)
      WordPiece.detokenize(WordPiece.decodeIds(shard, extIds))
        .orderBy(col("doc_id"), col("word_idx"))
    }),

    // ---- PREFERENCE LAYER COMPACTION (q254's maintenance
    // discipline for the DPO store): fold the envelope stream (split
    // + redelivered slice), COMPACT both layer families to one layer
    // each, and the assembly over the compacted state replays q248's
    // — i.e. q228's — oracle VERBATIM. Crash-window-invisible for
    // free: pair/negative rows are FACTS, so merged + old layers
    // coexisting only duplicate rows the read-side distinct collapses
    // (the spec reads mid-window).
    "q263_dpo_stream_compacted" -> ((s, dir) => {
      import graft.operators.Preference
      val em = t(s, dir, "embeddings")
      val q8 = em.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"))
      val pairs = q8.select(col("query_id"),
          (col("query_id") + 50L).as("pos_id"))
        .unionByName(q8.select(col("query_id"),
          (col("query_id") * 3L + 100L).as("pos_id")))
      val negs = Ann.hardNegatives(pairs, em, "vec_id", "embedding",
        k = 5, margin10k = 9000L)
      val (pSt, nSt) = prefStreamState(s, pairs, negs, compact = true)
      val d = t(s, dir, "documents")
      val bench = d.filter(pmod(col("doc_id"), lit(20)) === 0)
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val fz = graft.SparkEntry.tmpDir("dpo_decon_cmp")
      TextAnalysis.buildFuzzyBenchmarkIndex(bench, "doc_id", "text",
        shingleN = 2, numPerm = 64, seed = 42L, indexDir = fz)
      val prompts = d.filter(col("doc_id") < 8)
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val contaminated = TextAnalysis.fuzzyDecontaminateIncremental(
          s, fz, prompts, "doc_id", "text", shingleN = 2, numPerm = 64,
          bands = 32, threshold = 0.5, seed = 42L)
        .filter(col("contaminated"))
        .select(col("doc_id").as("prompt_id"))
      Preference.assemble(pSt, nSt, em, "vec_id", "embedding",
          minGap10k = 50L, pairsPerPrompt = 2)
        .join(contaminated, Seq("prompt_id"), "left_anti")
        .orderBy(col("prompt_id"), col("pair_rank"))
    }),

    // ---- LENGTH-BUCKETED BATCHES OVER THE SFT VERTICAL (q260 ×
    // q214): padded batching is how SFT fine-tunes usually run — the
    // RENDERED conversations bucket by total token width, frozen-hash
    // "shuffle" within buckets, and the manifest carries the exact
    // per-(bucket, batch) padding a trainer pays.
    "q264_sft_length_batches" -> ((s, dir) => {
      val rendered = Conversations.render(sftTurns(s, dir),
        "conv_id", "turn_idx", "role", "text")
      TextAnalysis.lengthBucketedBatches(rendered, "conv_id",
          col("n_tokens"), bucketTokens = 4L, batchSize = 4)
        .orderBy(col("bucket"), col("batch_idx"))
    }),

    // ---- PAD vs PACK, priced on the SAME corpus (the q236/q245/
    // q261 measure-the-tradeoff discipline): the documents corpus
    // (real width variance — the SFT fixture's uniform 12-token
    // conversations would make padding trivially free) runs through
    // BOTH batch-assembly tiers — padded length-bucketed batching
    // (q260's layout, 16-token bands × batch 4) and fixed-chunk
    // packing (q219's, 64-token chunks) — and the report puts the
    // two costs side by side in exact integers: padding wastes slots
    // (waste_10k), packing wastes only the per-stream partial chunk
    // but SPLITS documents across chunk boundaries (the
    // cross-document attention contamination padding never pays).
    // The pair of numbers is the whole pad-or-pack decision for a
    // given corpus shape.
    "q265_pad_vs_pack" -> ((s, dir) => {
      import graft.functions.GraftFunctions.tokens
      val widths = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"),
          size(filter(tokens(col("text")), t => length(t) > 0))
            .cast("long").as("n_tokens"),
          pmod(col("doc_id"), lit(4)).cast("long").as("stream"))
      val padded = TextAnalysis.lengthBucketedBatches(widths,
          "doc_id", col("n_tokens"), bucketTokens = 16L, batchSize = 4)
        .agg(sum(col("n_docs") * col("max_tokens")).as("slots"),
          sum(col("sum_tokens")).as("n_tokens"),
          sum(col("pad_tokens")).as("waste_tokens"))
        .select(lit("pad_bucketed").as("strategy"), col("slots"),
          col("n_tokens"), col("waste_tokens"),
          expr("waste_tokens * 10000L div slots").as("waste_10k"),
          lit(0L).as("n_split_docs"))
      val packed = TextAnalysis.packingReport(widths, "doc_id",
          "stream", col("n_tokens"), chunkTokens = 64)
        .agg(sum(col("n_chunks") * 64L).as("slots"),
          sum(col("n_tokens")).as("n_tokens"),
          sum(col("n_split_docs")).as("n_split_docs"))
        .select(lit("pack_chunks").as("strategy"), col("slots"),
          col("n_tokens"),
          (col("slots") - col("n_tokens")).as("waste_tokens"),
          expr("(slots - n_tokens) * 10000L div slots")
            .as("waste_10k"),
          col("n_split_docs"))
      padded.unionByName(packed).orderBy(col("strategy"))
    }),

    // ---- FRACTIONAL EPOCH UPSAMPLING (the published-mix repetition
    // factor — books ×2.5, wiki ×1.4, web ×0.8): per-lang epoch
    // targets in 10⁴ integers — de 0.5 (frac-only downsample), zh
    // 1.0 (exactly one copy, no draw), en 1.4, es 2.5 — materialized
    // as the explicit copy manifest downstream shuffles/packs as
    // rows. The extra-copy draw is the frozen per-doc hash: per-row
    // pure (zero Exchange, plan-locked), stable under corpus growth
    // — an epoch factor is a per-doc RATE; the corpus-wide budget
    // variant is q239's tokenMixture and keeps its rank window.
    "q266_epoch_upsample" -> ((s, dir) => {
      TextAnalysis.epochUpsample(t(s, dir, "documents"), "doc_id",
          "lang", Seq("de" -> 5000L, "zh" -> 10000L, "en" -> 14000L,
            "es" -> 25000L))
        .orderBy(col("doc_id"), col("copy_idx"))
    }),

    // ---- the REALIZED-MIXTURE audit for the epoch draw (the q243
    // under-supply discipline): per stratum, corpus size vs manifest
    // size, realized epochs in parts-per-10⁴ against the target, and
    // both token masses — the sign-off table for the hash-expected
    // draw's O(1/√n) small-stratum deviation, aggregated per ROW
    // (the manifest is never exploded — one Exchange total).
    "q267_epoch_mixture_report" -> ((s, dir) => {
      import graft.functions.GraftFunctions.tokens
      TextAnalysis.epochMixtureReport(t(s, dir, "documents"),
          "doc_id", "lang",
          size(filter(tokens(col("text")), t => length(t) > 0))
            .cast("long"),
          Seq("de" -> 5000L, "zh" -> 10000L, "en" -> 14000L,
            "es" -> 25000L))
        .orderBy(col("stratum"))
    }),

    // ---- CURSOR RESUME over the batch layout (the mid-epoch restart
    // a trainer actually does): the q260 manifest is totally ordered
    // by (bucket, batch_idx), so "everything from the cursor on" is a
    // PURE FILTER — no global step rank (which would be a
    // manifest-sized single-partition sort), zero added Exchange.
    // Oracle = q260's chain + the same WHERE.
    "q268_length_batches_resume" -> ((s, dir) => {
      import graft.functions.GraftFunctions.tokens
      TextAnalysis.resumeBatches(
          TextAnalysis.lengthBucketedBatches(
            t(s, dir, "documents"), "doc_id",
            size(filter(tokens(col("text")), t => length(t) > 0)),
            bucketTokens = 16L, batchSize = 4),
          bucket0 = 3L, batch0 = 2L)
        .orderBy(col("bucket"), col("batch_idx"))
    }),

    // ---- GREEDY NO-SPLIT PACKING (the third batch-assembly tier):
    // docs lay WHOLE into 128-token chunks, a doc that no longer
    // fits opens the next chunk — zero cross-document contamination
    // at the price of per-chunk tail waste (q270 prices it). The
    // fold is inherently sequential per stream (a non-associative
    // scan), so this is the documented mapGroups seam — streams are
    // the parallel unit; the oracle replays the fold with a
    // recursive CTE over the per-stream ordinals.
    "q269_pack_nosplit" -> ((s, dir) => {
      import graft.functions.GraftFunctions.tokens
      val widths = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"),
          size(filter(tokens(col("text")), t => length(t) > 0))
            .cast("long").as("n"),
          pmod(col("doc_id"), lit(4)).cast("long").as("stream"))
      TextAnalysis.packWholeDocs(widths, "doc_id", "stream",
          col("n"), chunkTokens = 128)
        .orderBy(col("stream"), col("doc_id"))
    }),

    // ---- the BATCH-ASSEMBLY TIER SWEEP (q265 completed to the full
    // decision space): padded bucketing vs split packing vs no-split
    // packing, same corpus, chunk/batch budgets held fixed — waste
    // and contamination side by side in exact integers. The missing
    // third column in every pad-vs-pack debate is the no-split
    // tier's tail waste; now all three are one measured table.
    "q270_batch_tier_sweep" -> ((s, dir) => {
      import graft.functions.GraftFunctions.tokens
      val widths = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"),
          size(filter(tokens(col("text")), t => length(t) > 0))
            .cast("long").as("n"),
          pmod(col("doc_id"), lit(4)).cast("long").as("stream"))
      val padded = TextAnalysis.lengthBucketedBatches(widths,
          "doc_id", col("n"), bucketTokens = 16L, batchSize = 4)
        .agg(sum(col("n_docs") * col("max_tokens")).as("slots"),
          sum(col("sum_tokens")).as("n_tokens"),
          sum(col("pad_tokens")).as("waste_tokens"))
        .select(lit("pad_bucketed").as("strategy"), col("slots"),
          col("n_tokens"), col("waste_tokens"),
          expr("waste_tokens * 10000L div slots").as("waste_10k"),
          lit(0L).as("n_split_docs"))
      val split = TextAnalysis.packingReport(widths, "doc_id",
          "stream", col("n"), chunkTokens = 128)
        .agg(sum(col("n_chunks") * 128L).as("slots"),
          sum(col("n_tokens")).as("n_tokens"),
          sum(col("n_split_docs")).as("n_split_docs"))
        .select(lit("pack_split").as("strategy"), col("slots"),
          col("n_tokens"),
          (col("slots") - col("n_tokens")).as("waste_tokens"),
          expr("(slots - n_tokens) * 10000L div slots")
            .as("waste_10k"),
          col("n_split_docs"))
      val nosplit = TextAnalysis.packWholeDocs(widths, "doc_id",
          "stream", col("n"), chunkTokens = 128)
        .groupBy(col("stream"))
        .agg((max(col("chunk_idx")) + 1L).as("nc"),
          sum(col("n_tokens")).as("nt"))
        .agg(sum(col("nc") * 128L).as("slots"),
          sum(col("nt")).as("n_tokens"))
        .select(lit("pack_nosplit").as("strategy"), col("slots"),
          col("n_tokens"),
          (col("slots") - col("n_tokens")).as("waste_tokens"),
          expr("(slots - n_tokens) * 10000L div slots")
            .as("waste_10k"),
          lit(0L).as("n_split_docs"))
      padded.unionByName(split).unionByName(nosplit)
        .orderBy(col("strategy"))
    }),

    // ---- FILL-IN-THE-MIDDLE transform (Bavarian et al. 2022): the
    // code-model pretraining rewrite — a seeded 90% of docs re-render
    // in PSM order (<PRE> p <SUF> s <MID> m) with token-level cut
    // points from salted hashes; the rest pass through normalized.
    // Per-row pure (zero Exchange, plan-locked); the oracle replays
    // draw, cuts and the exact rebuilt strings.
    "q272_fim_transform" -> ((s, dir) => {
      TextAnalysis.fimTransform(t(s, dir, "documents"), "doc_id",
          "text", rate10k = 9000L)
        .orderBy(col("doc_id"))
    }),

    // ---- ANNEALING PHASES (the "highest-quality data last" recipe):
    // the top-scored docs up to a 6k-token budget form the final
    // phase — tokenMixture's whole-doc boundary rule under the
    // (score DESC, hash, id) global order, computed WITHOUT a global
    // window: cross-bucket cumulatives ride the tiny distinct-score
    // table (broadcast), each doc adds only its bucket-confined
    // running offset. Score = distinct-token count (an integer band).
    "q273_anneal_phases" -> ((s, dir) => {
      import graft.functions.GraftFunctions.tokens
      val tk = filter(tokens(col("text")), t => length(t) > 0)
      TextAnalysis.annealPhases(t(s, dir, "documents"), "doc_id",
          size(tk).cast("long"), size(array_distinct(tk)).cast("long"),
          annealTokens = 6000L)
        .orderBy(col("doc_id"))
    }),

    // ---- TOKENIZER FERTILITY / COMPRESSION (the tokenizer-selection
    // numbers): pieces per word, [UNK] rate, content chars per piece
    // — computed from the encode stream alone (every word contributes
    // exactly ONE unmarked opener piece, so n_words needs no join
    // back to the corpus). One global aggregate; exact integers.
    "q271_wordpiece_fertility" -> ((s, dir) => {
      val vocab = WordPiece.mineVocab(t(s, dir, "documents"), "text",
        maxPieceLen = 6, topPieces = 60)
      WordPiece.fertilityReport(
        WordPiece.encode(wpAugDocs(s, dir), "doc_id", "text", vocab,
          matchHorizon = 6, maxInputChars = 9))
    }),

    // ---- DECODE FROM THE PERSISTED ARTIFACT (q247's round-trip
    // discipline pointed at the decode direction): the extended
    // artifact ships pieces + meta + append-only ids as one
    // directory; an old shard decoded through the LOADED id table
    // replays q262's oracle VERBATIM — persistence and the
    // extension both invisible to old shards.
    "q279_decode_artifact" -> ((s, dir) => {
      import graft.operators.TokenizerArtifact
      val d = t(s, dir, "documents")
      val even = d.filter(pmod(col("doc_id"), lit(2)) === 0)
      val base = WordPiece.mineVocab(even, "text", maxPieceLen = 6,
        topPieces = 60)
      val baseIds = WordPiece.vocabIds(base)
      val ext = WordPiece.mineVocab(d, "text", maxPieceLen = 6,
        topPieces = 60)
      val extIds = TokenizerArtifact.extendIds(baseIds, ext)
      val art = graft.SparkEntry.tmpDir("wp_dec_art")
      WordPiece.saveVocab(ext, art, maxPieceLen = 6,
        maxInputChars = 9)
      TokenizerArtifact.saveIds(extIds, art)
      val shard = WordPiece.encodeIdsWith(
        wpAugDocs(s, dir).filter(pmod(col("doc_id"), lit(2)) === 0),
        "doc_id", "text", base, baseIds,
        matchHorizon = 6, maxInputChars = 9)
      WordPiece.detokenize(WordPiece.decodeIds(shard,
          TokenizerArtifact.loadIds(s, art)))
        .orderBy(col("doc_id"), col("word_idx"))
    }),

    // ---- the TOKENIZER-SELECTION TABLE (the cross-tokenizer form of
    // q271): char-BPE (20 trained merges) and WordPiece (6/60 mined
    // vocab) fertility on the SAME plain corpus, one comparison row
    // each — the artifact a tokenizer choice is actually made from.
    // ONE oracle replays both training chains + both encodes + the
    // shared word count, so either tokenizer drifting breaks the row.
    "q277_tokenizer_selection" -> ((s, dir) => {
      import graft.functions.GraftFunctions.tokens
      val d = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val wpVocab = WordPiece.mineVocab(d, "text", maxPieceLen = 6,
        topPieces = 60)
      val wp = WordPiece.fertilityReport(
          WordPiece.encode(d, "doc_id", "text", wpVocab,
            matchHorizon = 6, maxInputChars = 16))
        .select(lit("wordpiece").as("tokenizer"), col("n_words"),
          col("n_pieces"), col("fertility_10k"))
      val merges = TextAnalysis.bpeTrain(d, "text", numMerges = 20)
        .orderBy(col("step")).collect()
        .map(r => r.getAs[String]("left") -> r.getAs[String]("right"))
        .toSeq
      val words = d.select(explode(filter(tokens(col("text")),
          t => length(t) > 0)).as("w"))
        .agg(count(lit(1)).as("n_words"))
      val bp = TextAnalysis.bpeEncode(d, "doc_id", "text", merges)
        .agg(count(lit(1)).as("n_pieces"))
        .crossJoin(broadcast(words))
        .select(lit("bpe_char").as("tokenizer"), col("n_words"),
          col("n_pieces"),
          expr("n_pieces * 10000L div n_words").as("fertility_10k"))
      bp.unionByName(wp).orderBy(col("tokenizer"))
    }),

    // ---- the VOCAB-BUDGET knob priced (the q261/q256/q276
    // discipline on the tokenizer itself): WordPiece fertility at
    // topPieces 30/60/120 over the same corpus — the standard
    // fertility-vs-vocab-size curve a tokenizer budget is chosen
    // from; the oracle replays all three minings + encodes
    // (prefix-parameterized chains) in one query.
    "q278_vocab_budget_sweep" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      Seq(30, 60, 120).map { tp =>
        WordPiece.fertilityReport(
            WordPiece.encode(d, "doc_id", "text",
              WordPiece.mineVocab(d, "text", maxPieceLen = 6,
                topPieces = tp),
              matchHorizon = 6, maxInputChars = 16))
          .select(lit(tp.toLong).as("top_pieces"), col("n_pieces"),
            col("fertility_10k"), col("chars_per_piece_10k"))
      }.reduce(_.unionByName(_)).orderBy(col("top_pieces"))
    }),

    // ---- the anneal-budget KNOB priced (the q236/q245/q261/q256
    // discipline): 2k/6k/20k-token final phases — docs, tokens and
    // the minimum quality score each budget admits; the boundary doc
    // overshoot (docs taken whole) is visible in n_tokens vs budget.
    "q276_anneal_sweep" -> ((s, dir) => {
      import graft.functions.GraftFunctions.tokens
      val tk = filter(tokens(col("text")), t => length(t) > 0)
      Seq(2000L, 6000L, 20000L).map { b =>
        TextAnalysis.annealPhases(t(s, dir, "documents"), "doc_id",
            size(tk).cast("long"),
            size(array_distinct(tk)).cast("long"), b)
          .filter(col("phase") === 1L)
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("n_tokens"),
            min(col("score")).as("min_score"))
          .select(lit(b).as("anneal_tokens"), col("n_docs"),
            col("n_tokens"), col("min_score"))
      }.reduce(_.unionByName(_)).orderBy(col("anneal_tokens"))
    }),

    // ---- the SAME fertility report from an ID SHARD + the id table
    // ALONE (q271's "attachable to any persisted shard without its
    // source text" made literal): encode→ids→decode→report, q271's
    // oracle VERBATIM — the id round trip must be invisible.
    "q274_shard_fertility" -> ((s, dir) => {
      val vocab = WordPiece.mineVocab(t(s, dir, "documents"), "text",
        maxPieceLen = 6, topPieces = 60)
      val ids = WordPiece.vocabIds(vocab)
      val shard = WordPiece.encodeIdsWith(wpAugDocs(s, dir), "doc_id",
        "text", vocab, ids, matchHorizon = 6, maxInputChars = 9)
      WordPiece.fertilityReport(WordPiece.decodeIds(shard, ids))
    }),

    // ---- FIM → PACKED CHUNKS (the code-model pipeline end-to-end):
    // the PSM rewrite feeds the q219 cumsum packing over the
    // REWRITTEN widths (sentinels are tokens — +3 per applied doc);
    // one composed oracle, so a drift in either stage shifts every
    // downstream chunk boundary.
    "q275_fim_pack" -> ((s, dir) => {
      import graft.functions.GraftFunctions.tokens
      val fim = TextAnalysis.fimTransform(t(s, dir, "documents"),
          "doc_id", "text", rate10k = 9000L)
        .withColumn("stream", pmod(col("doc_id"), lit(4)))
      TextAnalysis.packSequencesByCount(fim, "doc_id", "stream",
          size(filter(tokens(col("text")), t => length(t) > 0))
            .cast("long"), chunkTokens = 64)
        .orderBy(col("stream"), col("doc_id"))
    }),

    // ---- the streamed DPO vertical over the PERSISTED-INDEX miner
    // (q235 × q248 — the full 100 TB composition): negatives from
    // q218's probed int8 reads, labeled pairs + mined candidates
    // through PreferenceStream's layers (split + redelivered), the
    // mixed-scorer assembly over the merged state — q235's oracle
    // VERBATIM.
    "q258_dpo_indexed_streamed" -> ((s, dir) => {
      import graft.operators.Preference
      val em = t(s, dir, "embeddings")
      val nLabels = em.agg(max(col("label"))).head.getInt(0) + 1
      val idx = graft.SparkEntry.tmpDir("dpo_st_idx")
      Ann.sq8IndexAppend(em.filter(pmod(col("vec_id"), lit(2)) === 0),
        "vec_id", "embedding", col("label"), idx, 1L)
      Ann.sq8IndexAppend(em.filter(pmod(col("vec_id"), lit(2)) === 1),
        "vec_id", "embedding", col("label"), idx, 2L)
      Ann.compactVectorIndex(s, idx, partitionCol = "cluster")
      val qs = em.filter(col("vec_id") < 8)
        .withColumn("probes", array(col("label").cast("long"),
          pmod(col("label") + 1, lit(nLabels)).cast("long")))
      val q8 = qs.select(col("vec_id").as("query_id"))
      val pairs = q8.select(col("query_id"),
          (col("query_id") + 50L).as("pos_id"))
        .unionByName(q8.select(col("query_id"),
          (col("query_id") * 3L + 100L).as("pos_id")))
      val negs = Ann.hardNegativesFromIndex(s, idx, pairs, qs,
        "vec_id", "embedding", "probes", k = 3, overfetch = 10,
        margin10k = 30000L)
      val (pSt, nSt) = prefStreamState(s, pairs, negs)
      Preference.assemble(pSt, nSt, em, "vec_id", "embedding",
          minGap10k = -20000L, pairsPerPrompt = 2)
        .orderBy(col("prompt_id"), col("pair_rank"))
    }),

    // ---- the FULL packed-SFT artifact: truncate → pack → per-chunk
    // loss masks in one chain (q222 + q219 + q238 composed) — what a
    // context-window-bounded SFT run actually materializes: middles
    // dropped whole-turn, survivors packed end-to-end, every chunk
    // carrying its exact loss width.
    "q244_sft_truncate_pack_loss" -> ((s, dir) => {
      val tr = Conversations.truncate(sftTurns(s, dir), "conv_id",
        "turn_idx", "role", "text", maxTokens = 12L)
      val widths = tr.groupBy(col("conv_id"))
        .agg(sum(col("end_tok") - col("start_tok")).as("n_tokens"))
        .withColumn("stream", pmod(col("conv_id"), lit(4)))
      val packed = TextAnalysis.packSequencesByCount(widths,
        "conv_id", "stream", col("n_tokens"), chunkTokens = 64)
      Conversations.packedLossManifest(tr, packed, chunkTokens = 64)
        .orderBy(col("stream"), col("chunk_idx"))
    }),

    // ---- MIXTURE UNDER-SUPPLY AUDIT: exact-share mixtures scale
    // the whole selection to the scarcest stratum — this report
    // makes the price visible per stratum: fr (64 docs asked to be
    // 10% of the mix at sf0.01) is the binding constraint, so the
    // en "80%" achieves 7640 parts-per-10k of a much smaller capped
    // total; de/zh carry docs but no target — present, cap 0,
    // visibly excluded.
    "q243_mixture_report" -> ((s, dir) => {
      TextAnalysis.mixtureReport(
          t(s, dir, "documents").select(col("doc_id"), col("lang")),
          "doc_id", "lang",
          Map("en" -> 8000L, "es" -> 1500L, "fr" -> 1000L))
        .orderBy(col("lang"))
    }),

    // ---- TOKEN-BUDGET RELEASE over the CURATION SELECTION: the
    // recipe picks quality docs (q126's full chain), the release
    // then fills per-lang TOKEN budgets from that selection in the
    // frozen-hash order — the final cut a training run ships. One
    // oracle replays recipe + budgets end to end.
    "q240_curation_token_release" -> ((s, dir) => {
      import graft.functions.GraftFunctions.tokens
      val sel = graft.streaming.CurationStream.select(s,
        curationFixture(s, dir), CurationTargets)
      val d = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      TextAnalysis.tokenMixture(
          sel.select(col("doc_id"), col("lang")).join(d, Seq("doc_id")),
          "doc_id", "lang",
          size(filter(tokens(col("text")), t => length(t) > 0))
            .cast("long"),
          Map("en" -> 20000L, "es" -> 3000L))
        .orderBy(col("lang"), col("tok_rank"))
    }),

    // ---- PACKED LOSS-MASK MANIFEST: the q213 spans + the q219
    // packing composed into the per-chunk loss layout a packed-SFT
    // trainer slices its masks from — one token-width drift in
    // EITHER half shifts every chunk's loss count (the composition
    // is the check). Totals reconcile by construction: per stream,
    // sum(n_tokens) = the packed stream's width and
    // sum(n_loss_tokens) = the render's assistant mass.
    "q238_sft_pack_loss" -> ((s, dir) => {
      val turns = sftTurns(s, dir)
      val rendered = Conversations.render(turns, "conv_id",
          "turn_idx", "role", "text")
        .withColumn("stream", pmod(col("conv_id"), lit(4)))
      val packed = TextAnalysis.packSequencesByCount(rendered,
        "conv_id", "stream", col("n_tokens"), chunkTokens = 64)
      Conversations.packedLossManifest(
          Conversations.spans(turns, "conv_id", "turn_idx", "role",
            "text"),
          packed, chunkTokens = 64)
        .orderBy(col("stream"), col("chunk_idx"))
    }),

    // ---- ALIGN-THRESHOLD SWEEP (the q225/q180 measure-the-knob
    // discipline for the cross-modal gate): the q229 fixture's
    // planted truth is doc-id arithmetic, so the gate's confusion
    // counts are measurable per threshold — 2000 / 5000 / 8000 with
    // everything else held constant. The committed sf0.01 numbers:
    // 2000 lets 9/25 plants THROUGH (2 matched casualties — too
    // loose); 5000 kills 25/25 at 4 casualties; 8000 still kills
    // 25/25 but eats 24 matched pairs for nothing — the q229
    // default (5000) sits exactly at the knee.
    "q236_align_sweep" -> ((s, dir) => {
      val scored = alignFixtureScores(s, t(s, dir, "documents"))
        .filter(col("align_s4").isNotNull)
        .withColumn("planted",
          pmod(expr("CAST(doc_id AS BIGINT) div 5"), lit(4L)) === 1)
        .localCheckpoint(false) // three threshold consumers
      Seq(2000L, 5000L, 8000L).map { t =>
        scored.agg(
            sum(when(!col("planted") && col("align_s4") >= t, 1L)
              .otherwise(0L)).as("matched_kept"),
            sum(when(!col("planted") && col("align_s4") < t, 1L)
              .otherwise(0L)).as("matched_dropped"),
            sum(when(col("planted") && col("align_s4") < t, 1L)
              .otherwise(0L)).as("planted_dropped"),
            sum(when(col("planted") && col("align_s4") >= t, 1L)
              .otherwise(0L)).as("planted_kept"))
          .select(lit(t).as("threshold"), col("matched_kept"),
            col("matched_dropped"), col("planted_dropped"),
            col("planted_kept"))
      }.reduce(_.unionByName(_)).orderBy(col("threshold"))
    })
  )

  // ===================================================================
  // DuckDB oracles. Same column names, same determinism rules.
  // ===================================================================

  /** DSIR replay — shared by q92 (one-shot) and q101 (persisted index,
    * two batch folds whose union must equal the one-shot run): unigram
    * +bigram poly-hashes % 65536 buckets; raw (p) and target (q,
    * lang='en') bucket counts; per-feature contribution
    * ((q+1)*1e6) // (p+1) in integer division; per-doc exact-int sums.
    */
  /** BPE training-loop replay, shared by q98 (merge table), q104
    * (encode) and q106 (token counts): the greedy merge loop unrolled
    * as `steps` CTE stages over a POSITIONAL symbol table
    * v{s}(wid, wc, pos, sym). Per stage: adjacent pairs (p) → weighted
    * argmax with (cnt DESC, left, right) tie-break (m) → match
    * positions (mt) → gaps-and-islands to pick every other match in a
    * run (ap — overlapping matches only arise in a^n runs, where the
    * left-to-right greedy fold keeps the 1st, 3rd, ... occurrence) →
    * rewrite + renumber (v). Every CTE is MATERIALIZED: each stage
    * references its predecessor 3×, and DuckDB would otherwise inline
    * the chain into 3^steps duplicated scans. An empty m{s} (corpus
    * exhausted) yields empty mt/ap and an unchanged v — matching the
    * Spark loop's early stop.
    */
  private val BpeSteps = 20

  private def bpeChainSql(steps: Int, byteLevel: Boolean = false,
                          src: String = "documents",
                          p: String = ""): String = {
    // byte-level v0: symbols are UTF-8 bytes as fixed-width uppercase
    // hex pairs — hex(encode(tok)) renders identically in Spark and
    // DuckDB, so the merge loop above it is unchanged
    val v0 =
      if (byteLevel)
        s"""${p}v0 AS MATERIALIZED (SELECT tok AS wid, wc,
           |    CAST(i AS BIGINT) + 1 AS pos,
           |    substr(hex(encode(tok)), CAST(i AS INT) * 2 + 1, 2) AS sym
           |  FROM (SELECT tok, wc,
           |    unnest(range(octet_length(encode(tok)))) AS i FROM ${p}w))"""
          .stripMargin
      else
        s"""${p}v0 AS MATERIALIZED (SELECT tok AS wid, wc,
          |    CAST(i AS BIGINT) + 1 AS pos,
          |    substr(tok, CAST(i AS INT) + 1, 1) AS sym
          |  FROM (SELECT tok, wc, unnest(range(len(tok))) AS i FROM ${p}w))"""
          .stripMargin
    bpeChainWithV0Sql(steps, v0, src, p)
  }

  private def bpeChainWithV0Sql(steps: Int, v0: String,
                                src: String, p: String = ""): String = {
    def stage(s: Int): String =
      s"""${p}p$s AS MATERIALIZED (SELECT a.wid, a.wc, a.pos, a.sym AS x, b.sym AS y
         | FROM ${p}v${s - 1} a JOIN ${p}v${s - 1} b
         |   ON a.wid = b.wid AND b.pos = a.pos + 1),
         |${p}m$s AS MATERIALIZED (SELECT x AS a, y AS b, SUM(wc) AS cnt
         | FROM ${p}p$s GROUP BY x, y ORDER BY cnt DESC, a, b LIMIT 1),
         |${p}mt$s AS MATERIALIZED (SELECT p.wid, p.pos FROM ${p}p$s p JOIN ${p}m$s m
         |  ON p.x = m.a AND p.y = m.b),
         |${p}ap$s AS MATERIALIZED (SELECT wid, pos FROM (
         |  SELECT wid, pos,
         |    ROW_NUMBER() OVER (PARTITION BY wid, grp ORDER BY pos) AS rn
         |  FROM (SELECT wid, pos,
         |      pos - ROW_NUMBER() OVER (PARTITION BY wid ORDER BY pos) AS grp
         |    FROM ${p}mt$s)) WHERE rn % 2 = 1),
         |${p}v$s AS MATERIALIZED (SELECT wid, wc,
         |   ROW_NUMBER() OVER (PARTITION BY wid ORDER BY pos) AS pos, sym
         | FROM (SELECT t.wid, t.wc, t.pos,
         |     CASE WHEN ap.pos IS NOT NULL
         |       THEN (SELECT a || b FROM ${p}m$s) ELSE t.sym END AS sym
         |   FROM ${p}v${s - 1} t
         |   LEFT JOIN ${p}ap$s ap ON t.wid = ap.wid AND t.pos = ap.pos
         |   WHERE NOT EXISTS (SELECT 1 FROM ${p}ap$s a2
         |     WHERE a2.wid = t.wid AND a2.pos = t.pos - 1)))""".stripMargin
    s"""${p}w AS MATERIALIZED (SELECT tok, COUNT(*) AS wc FROM (
       |  SELECT unnest(string_split_regex(trim(text), '\\s+')) AS tok
       |  FROM $src) GROUP BY tok),
       |$v0,
       |${(1 to steps).map(stage).mkString(",\n")}""".stripMargin
  }

  private def bpeTrainSelectSql(steps: Int): String =
    (1 to steps).map(s =>
      s"""SELECT $s AS step, a AS "left", b AS "right", a || b AS merged,
         |  CAST(cnt AS BIGINT) AS pair_count FROM m$s""".stripMargin)
      .mkString("\nUNION ALL\n")

  private val BpeTrainOracleSql: String =
    s"WITH ${bpeChainSql(BpeSteps)}\n${bpeTrainSelectSql(BpeSteps)} " +
      "ORDER BY step"

  /** q189: the byte-level training replay — the identical unrolled
    * merge loop over the hex-byte v0 symbolization, on the multi-byte
    * fixture.
    */
  private val BpeBytesTrainOracleSql: String =
    s"WITH ${bpeChainSql(BpeSteps, byteLevel = true,
        src = BytePagesSrcSql)}\n" +
      s"${bpeTrainSelectSql(BpeSteps)} ORDER BY step"

  /** q190: the byte-level round-trip invariant — decode∘encode must
    * reproduce the whitespace-normalized fixture verbatim (the q154
    * convention), including the Greek/CJK/emoji no char-level vocab
    * trained here could hold.
    */
  private val BpeBytesRoundtripOracleSql: String =
    s"""SELECT CAST(doc_id AS BIGINT) AS doc_id,
       | array_to_string(string_split_regex(trim(text), '\\s+'), ' ')
       |   AS decoded
       |FROM $BytePagesSrcSql
       |WHERE len(list_filter(string_split_regex(trim(text), '\\s+'),
       |  x -> len(x) > 0)) > 0
       |ORDER BY doc_id""".stripMargin

  /** q191: the q181 coverage audit over the BYTE-level table — a merge
    * product is any piece longer than one byte symbol (2 hex chars).
    */
  private val BpeBytesCoverageOracleSql: String =
    s"""WITH ${bpeChainSql(BpeSteps, byteLevel = true,
         src = BytePagesSrcSql)},
       |btk AS (SELECT doc_id,
       |   unnest(string_split_regex(trim(text), '\\s+')) AS tok
       | FROM $BytePagesSrcSql),
       |benc AS (SELECT t.doc_id, v.sym
       | FROM btk t JOIN v$BpeSteps v ON v.wid = t.tok),
       |bcov AS (SELECT d.source AS stratum, COUNT(e.sym) AS n_pieces,
       |  COALESCE(SUM(CASE WHEN length(e.sym) > 2 THEN 1 ELSE 0 END),
       |    0) AS n_merged
       | FROM $BytePagesSrcSql d LEFT JOIN benc e ON d.doc_id = e.doc_id
       | GROUP BY d.source)
       |SELECT stratum, CAST(n_pieces AS BIGINT) AS n_pieces,
       | CAST(n_merged AS BIGINT) AS n_merged,
       | CAST(CASE WHEN n_pieces = 0 THEN 0
       |   ELSE n_merged * 10000 // n_pieces END AS BIGINT) AS merged_10k
       |FROM bcov ORDER BY stratum""".stripMargin

  /** Encode replay: a training-corpus word's encoding IS its final
    * vocab state (sequential-in-order application — the same rewrites
    * the chain applied), so join each document token to v{steps} and
    * renumber globally per document.
    */
  private val BpeEncodeOracleSql: String =
    s"""WITH ${bpeChainSql(BpeSteps)},
       |toks AS (SELECT doc_id,
       |   unnest(string_split_regex(trim(text), '\\s+')) AS tok,
       |   unnest(range(len(string_split_regex(trim(text), '\\s+')))) AS widx
       | FROM documents),
       |enc AS (SELECT t.doc_id, t.widx, v.pos AS spos, v.sym
       | FROM toks t JOIN v$BpeSteps v ON v.wid = t.tok)
       |SELECT doc_id,
       | ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY widx, spos) - 1
       |   AS pos,
       | sym AS token
       |FROM enc ORDER BY doc_id, pos""".stripMargin

  /** q181: the q104 encode replay aggregated to per-source coverage —
    * pieces of length > 1 are merge products; exact-integer
    * parts-per-10⁴ ratio.
    */
  private val TokenizerCoverageOracleSql: String =
    s"""WITH ${bpeChainSql(BpeSteps)},
       |toks AS (SELECT doc_id,
       |   unnest(string_split_regex(trim(text), '\\s+')) AS tok
       | FROM documents),
       |enc AS (SELECT t.doc_id, v.sym
       | FROM toks t JOIN v$BpeSteps v ON v.wid = t.tok),
       |cov AS (SELECT d.source AS stratum, COUNT(e.sym) AS n_pieces,
       |  COALESCE(SUM(CASE WHEN length(e.sym) > 1 THEN 1 ELSE 0 END),
       |    0) AS n_merged
       | FROM documents d LEFT JOIN enc e ON d.doc_id = e.doc_id
       | GROUP BY d.source)
       |SELECT stratum, CAST(n_pieces AS BIGINT) AS n_pieces,
       | CAST(n_merged AS BIGINT) AS n_merged,
       | CAST(CASE WHEN n_pieces = 0 THEN 0
       |   ELSE n_merged * 10000 // n_pieces END AS BIGINT) AS merged_10k
       |FROM cov ORDER BY stratum""".stripMargin

  /** Vocab + id replay (the GPT-2 layout): base alphabet = distinct v0
    * symbols id'd in binary order; merged tokens follow at
    * |Σ| + step - 1; encode ids = the q104 encoding joined to the
    * vocab.
    */
  private val BpeEncodeIdsOracleSql: String = {
    val mergedSel = (1 to BpeSteps).map(s =>
      s"SELECT $s AS step, a || b AS token FROM m$s")
      .mkString("\nUNION ALL\n")
    s"""WITH ${bpeChainSql(BpeSteps)},
       |chars AS (SELECT DISTINCT sym AS token FROM v0),
       |base AS (SELECT ROW_NUMBER() OVER (ORDER BY token) - 1
       |   AS token_id, token FROM chars),
       |nb AS (SELECT COUNT(*) AS n FROM chars),
       |mrg AS (SELECT nb.n + step - 1 AS token_id, token
       | FROM ($mergedSel) m, nb),
       |voc AS (SELECT * FROM base UNION ALL SELECT * FROM mrg),
       |toks AS (SELECT doc_id,
       |   unnest(string_split_regex(trim(text), '\\s+')) AS tok,
       |   unnest(range(len(string_split_regex(trim(text), '\\s+')))) AS widx
       | FROM documents),
       |enc AS (SELECT t.doc_id, t.widx, v.pos AS spos, v.sym
       | FROM toks t JOIN v$BpeSteps v ON v.wid = t.tok)
       |SELECT doc_id,
       | ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY widx, spos) - 1
       |   AS pos,
       | CAST(voc.token_id AS BIGINT) AS token_id
       |FROM enc JOIN voc ON voc.token = enc.sym
       |ORDER BY doc_id, pos""".stripMargin
  }

  /** q198: the byte-level vocab/id replay — 256 static base ids in
    * byte order, merge products at 256 + step - 1, each word's
    * encoding = its final byte-chain state (the q107 layout over the
    * byte base).
    */
  private val BpeBytesIdsOracleSql: String = {
    val mergedSel = (1 to BpeSteps).map(s =>
      s"SELECT $s AS step, a || b AS token FROM m$s")
      .mkString("\nUNION ALL\n")
    s"""WITH ${bpeChainSql(BpeSteps, byteLevel = true,
         src = BytePagesSrcSql)},
       |bbase AS (SELECT CAST(i AS BIGINT) AS token_id,
       |  lpad(hex(i), 2, '0') AS token
       | FROM (SELECT unnest(range(256)) AS i)),
       |bmrg AS (SELECT CAST(256 + step - 1 AS BIGINT) AS token_id,
       |  token FROM ($mergedSel)),
       |bvoc AS (SELECT * FROM bbase UNION ALL SELECT * FROM bmrg),
       |btk2 AS (SELECT doc_id,
       |   unnest(string_split_regex(trim(text), '\\s+')) AS tok,
       |   unnest(range(len(string_split_regex(trim(text), '\\s+'))))
       |     AS widx
       | FROM $BytePagesSrcSql),
       |benc2 AS (SELECT t.doc_id, t.widx, v.pos AS spos, v.sym
       | FROM btk2 t JOIN v$BpeSteps v ON v.wid = t.tok)
       |SELECT doc_id,
       | ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY widx, spos) - 1
       |   AS pos,
       | CAST(bvoc.token_id AS BIGINT) AS token_id
       |FROM benc2 JOIN bvoc ON bvoc.token = benc2.sym
       |ORDER BY doc_id, pos""".stripMargin
  }

  /** Portable char poly-hash replay (the DSIR/mixture convention);
    * `mult` selects the polynomial base (the sketch rows use distinct
    * primes — see `Sketches.RowMults`).
    */
  private def polyHashSql(s: String, mult: Long = 31L): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
       |  list_transform(string_split($s, ''),
       |    c -> CAST(ascii(c) AS BIGINT))),
       |  (h, c) -> (h * $mult + c) % 2147483647)""".stripMargin

  /** Count-min replay: 4 hash rows (distinct polynomial bases) × 256
    * buckets, est = min over the probed counters.
    */
  /** Bloom-gated decontamination replay: distinct benchmark 3-shingle
    * strings → 3 poly-hash rows (31/37/41) mod 64k = the set-bit
    * positions; a training shingle "maybe"-hits iff all 3 of its
    * positions are set. Shared by q138 (one-shot) and q139 (two folded
    * layers — bit-OR merge makes them identical by construction).
    */
  private val BloomDeconOracleSql: String = {
    val mults = Seq(31L, 37L, 41L)
    val setPos = mults.map(m =>
      s"SELECT DISTINCT ${polyHashSql("s", m)} % 65536 AS pos FROM bsh")
      .mkString("\nUNION\n")
    val allK = mults.map(m =>
      s"(${polyHashSql("s", m)} % 65536) IN (SELECT pos FROM bloom)")
      .mkString("\n  AND ")
    s"""WITH toks AS (SELECT doc_id,
       |  unnest(string_split_regex(trim(text), '\\s+')) AS tok,
       |  unnest(range(len(string_split_regex(trim(text), '\\s+')))) AS i
       | FROM documents),
       |shr AS (SELECT doc_id,
       |  tok || ' ' || lead(tok, 1) OVER (PARTITION BY doc_id ORDER BY i)
       |      || ' ' || lead(tok, 2) OVER (PARTITION BY doc_id ORDER BY i)
       |    AS s FROM toks),
       |sh AS (SELECT DISTINCT doc_id, s FROM shr WHERE s IS NOT NULL),
       |bsh AS (SELECT DISTINCT s FROM sh WHERE doc_id % 20 = 0),
       |bloom AS ($setPos),
       |hit AS (SELECT doc_id, CASE WHEN $allK
       |   THEN 1 ELSE 0 END AS in_bloom
       |  FROM sh WHERE doc_id % 20 <> 0),
       |agg AS (SELECT doc_id, COUNT(*) AS n_shingles,
       |   SUM(in_bloom) AS n_bloom FROM hit GROUP BY doc_id)
       |SELECT d.doc_id,
       | CAST(COALESCE(a.n_shingles, 0) AS BIGINT) AS n_shingles,
       | CAST(COALESCE(a.n_bloom, 0) AS BIGINT) AS n_bloom,
       | CASE WHEN COALESCE(a.n_shingles, 0) > 0
       |   THEN CAST(a.n_bloom AS DOUBLE) / a.n_shingles ELSE 0.0 END
       |   AS bloom_frac,
       | (CASE WHEN COALESCE(a.n_shingles, 0) > 0
       |   THEN CAST(a.n_bloom AS DOUBLE) / a.n_shingles ELSE 0.0 END
       |   >= 0.05) AS flagged
       |FROM (SELECT doc_id FROM documents WHERE doc_id % 20 <> 0) d
       |LEFT JOIN agg a USING (doc_id) ORDER BY doc_id""".stripMargin
  }

  /** BM25 replay: postings/df/doclens from the token stream, the
    * exact-integer idf/saturation pipeline (no log — see
    * [[graft.operators.Lexical]]), top-5 per query with doc_id
    * tie-break. Shared by q140 (one-shot) and q141 (two doc-disjoint
    * persisted folds — tf/df/N/T all add, so the merged layers equal
    * the one-shot table by construction).
    */
  /** The BM25 CTE block (toks → scored), shared by q140/q141 and the
    * hybrid-fusion replay (q148). No leading WITH.
    */
  private val Bm25CtesSql: String =
    """toks AS (SELECT doc_id,
      |  unnest(string_split_regex(trim(text), '\s+')) AS tok,
      |  unnest(range(len(string_split_regex(trim(text), '\s+')))) AS i
      | FROM documents),
      |dls AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
      |stats AS (SELECT COUNT(*) AS n, SUM(dl) AS t FROM dls),
      |post AS (SELECT tok, doc_id, COUNT(*) AS tf
      |  FROM toks GROUP BY tok, doc_id),
      |q AS (SELECT doc_id AS query_id, tok FROM toks
      |  WHERE doc_id % 97 = 0 AND i < 3 GROUP BY doc_id, tok),
      |tdf AS (SELECT tok, COUNT(*) AS df FROM post
      |  WHERE tok IN (SELECT tok FROM q) GROUP BY tok),
      |scored AS (SELECT q.query_id, p.doc_id,
      |  SUM((((2 * (s.n - f.df) + 1) * 10000) // (2 * f.df + 1)) *
      |      ((22 * p.tf * 100000000) // ((10 * p.tf + 3) * 10000 +
      |        9 * ((d.dl * 10000) //
      |             GREATEST(s.t // s.n, 1))))) AS score
      | FROM post p JOIN q ON p.tok = q.tok
      | JOIN tdf f ON p.tok = f.tok
      | JOIN dls d ON p.doc_id = d.doc_id
      | CROSS JOIN stats s
      | GROUP BY q.query_id, p.doc_id)""".stripMargin

  private val Bm25OracleSql: String =
    "WITH " + Bm25CtesSql + ",\n" +
      """rk AS (SELECT query_id, doc_id, score, ROW_NUMBER() OVER (
        |   PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
        | FROM scored)
        |SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id,
        | CAST(score AS BIGINT) AS score
        |FROM rk WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** q148 hybrid replay: BM25 top-5 (the q140 chain) fused with dense
    * hashEmbed cosine top-5 (the q121 chain at the same % 97 query
    * set) by exact-integer reciprocal rank: 10⁸ // (60 + rank) summed
    * across the two lists.
    */
  private val HybridRrfOracleSql: String =
    "WITH " + Bm25CtesSql + ",\n" +
      s"""brk AS (SELECT query_id, doc_id, rank FROM (
         |  SELECT query_id, doc_id, ROW_NUMBER() OVER (
         |    PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
         |  FROM scored) WHERE rank <= 5),
         |ef AS (SELECT doc_id,
         |   ${polyHashSql("tok")} % 32 AS b,
         |   CASE WHEN ${polyHashSql("tok || '|sign'")} % 2 = 0
         |     THEN 1 ELSE -1 END AS sgn
         | FROM toks),
         |eagg AS (SELECT doc_id, b, SUM(sgn) AS c FROM ef
         | GROUP BY doc_id, b),
         |edense AS (SELECT d.doc_id, i.b, COALESCE(a.c, 0) AS c
         | FROM (SELECT DISTINCT doc_id FROM documents) d
         | CROSS JOIN (SELECT unnest(range(32)) AS b) i
         | LEFT JOIN eagg a ON a.doc_id = d.doc_id AND a.b = i.b),
         |ev AS (SELECT doc_id, list(CAST(c AS DOUBLE) ORDER BY b) AS v
         | FROM edense GROUP BY doc_id
         | HAVING SUM(c * c) > 0),
         |esx AS (SELECT q.doc_id AS query_id, c.doc_id AS doc_id,
         |  round(list_cosine_similarity(q.v, c.v), 4) + 0.0 AS sim
         | FROM ev q JOIN ev c ON q.doc_id <> c.doc_id
         | WHERE q.doc_id % 97 = 0),
         |drk AS (SELECT query_id, doc_id, rank FROM (
         |  SELECT query_id, doc_id, ROW_NUMBER() OVER (
         |    PARTITION BY query_id ORDER BY sim DESC, doc_id) AS rank
         |  FROM esx) WHERE rank <= 5),
         |u AS (SELECT query_id, doc_id,
         |   100000000 // (60 + rank) AS s FROM brk
         | UNION ALL SELECT query_id, doc_id,
         |   100000000 // (60 + rank) FROM drk),
         |fs AS (SELECT query_id, doc_id, SUM(s) AS rrf
         | FROM u GROUP BY query_id, doc_id),
         |fr AS (SELECT query_id, doc_id, rrf, ROW_NUMBER() OVER (
         |   PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS rank
         | FROM fs)
         |SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id,
         | CAST(rrf AS BIGINT) AS rrf_score
         |FROM fr WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** Heavy-hitter replay, parameterized over the per-batch doc
    * predicates (one-shot = a single TRUE batch): per-batch exact
    * top-12 candidate CTEs → candidate union → CM cells over the FULL
    * stream (folded counters add, so this IS the merged index) → min
    * probe → top-5 by (est desc, item).
    */
  private def heavyHittersOracleSql(batchPreds: Seq[String]): String = {
    val mults = Seq(31L, 37L, 41L, 43L)
    def cells(src: String) = mults.zipWithIndex.map { case (m, i) =>
      s"""SELECT t, $i AS r,
         |   ${polyHashSql("t", m)} % 256 AS bucket FROM $src"""
        .stripMargin }.mkString("\nUNION ALL\n")
    val candCtes = batchPreds.zipWithIndex.map { case (pred, i) =>
      s"""cand$i AS (SELECT t AS item FROM (
         |  SELECT t, COUNT(*) AS cnt FROM toks WHERE $pred
         |  GROUP BY t ORDER BY cnt DESC, t LIMIT 12))""".stripMargin
    }.mkString(",\n")
    val candUnion = batchPreds.indices
      .map(i => s"SELECT item FROM cand$i").mkString(" UNION ")
    s"""WITH toks AS (SELECT doc_id,
       |  unnest(string_split_regex(trim(text), '\\s+')) AS t
       | FROM documents),
       |$candCtes,
       |cand AS ($candUnion),
       |cells AS (${cells("toks")}),
       |cm AS (SELECT r, bucket, COUNT(*) AS cnt FROM cells
       | GROUP BY r, bucket),
       |probe AS (${cells("(SELECT item AS t FROM cand)")}),
       |est AS (SELECT t AS item, MIN(COALESCE(cm.cnt, 0)) AS est_cnt
       | FROM probe LEFT JOIN cm USING (r, bucket) GROUP BY t),
       |rk AS (SELECT item, est_cnt, ROW_NUMBER() OVER (
       |   ORDER BY est_cnt DESC, item) AS rank FROM est)
       |SELECT CAST(rank AS BIGINT) AS rank, item,
       | CAST(est_cnt AS BIGINT) AS est_cnt
       |FROM rk WHERE rank <= 5 ORDER BY rank""".stripMargin
  }

  /** Bottom-k sample replay: salted portable tag per doc, rank by
    * (tag, doc_id), keep 20. Shared by q144 (one-shot) and q145 (two
    * folded layers — min-union makes them identical by construction).
    */
  private val BottomKOracleSql: String =
    s"""WITH tags AS (SELECT doc_id,
       |  ${polyHashSql("(CAST(doc_id AS VARCHAR) || '|sample-salt')")}
       |    AS h FROM documents)
       |SELECT doc_id, CAST(h AS BIGINT) AS h
       |FROM tags ORDER BY h, doc_id LIMIT 20""".stripMargin

  /** The shared MinHash-LSH replay chain — 2-shingle portable hashes,
    * 64 seed-42 perms, 8-band buckets, optional 100-cap, unique
    * pairs, signature-match scores. ONE definition for q21/q54/q151
    * so the chain can never drift per-oracle (the curationFixture
    * rule applied to SQL). No leading WITH; ends at `sc` with
    * (doc_a, doc_b, est_jaccard).
    */
  /** The shared signature prefix of every MinHash replay (q21/q54/
    * q151 self-join, q186–q188 cross-corpus): bigram shingles, 64
    * seed-42 portable perms, 8-band buckets. Ends at `sigj` (doc_id,
    * j, m), `bnd` (doc_id, band, bucket) and keeps `sh` (the exact
    * shingle sets) visible for truth sides.
    */
  /** `bandPerms` = signature positions per LSH band (64/bands): 8 for
    * the q21/q186 chains, 2 for q205's 32-band near-dup-sensitive
    * banding (an 8-perm band needs est⁸ per-band match probability —
    * ~0.4% at j ≈ 0.5, which silently missed paraphrase-grade pairs).
    */
  private def minhashSigCtesSql(bandPerms: Int): String = {
    val perms = Dedup.minhashPerms(64, 42L)
    val aList = perms.map(_._1).mkString(", ")
    val bList = perms.map(_._2).mkString(", ")
    s"""toks AS (SELECT doc_id,
       |  unnest(string_split_regex(trim(text), '\\s+')) AS tok,
       |  unnest(range(len(string_split_regex(trim(text), '\\s+')))) AS i
       | FROM documents),
       |shr AS (SELECT doc_id, tok || ' ' || lead(tok, 1) OVER
       |  (PARTITION BY doc_id ORDER BY i) AS s FROM toks),
       |sh AS (SELECT DISTINCT doc_id, s FROM shr WHERE s IS NOT NULL),
       |hs AS (SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT),
       |    list_transform(string_split(s, ''), c -> CAST(ascii(c) AS BIGINT))),
       |    (h, c) -> (h * 31 + c) % 2147483647) AS h FROM sh),
       |pm AS (SELECT unnest([$aList]) AS a, unnest([$bList]) AS b,
       |  unnest(range(64)) AS j),
       |sigj AS (SELECT doc_id, j, MIN((a * h + b) % 2147483647) AS m
       | FROM hs CROSS JOIN pm GROUP BY doc_id, j),
       |bnd AS (SELECT doc_id, j // $bandPerms AS band,
       |  string_agg(CAST(m AS VARCHAR), ',' ORDER BY j) AS bucket
       | FROM sigj GROUP BY doc_id, band)""".stripMargin
  }

  private val MinhashSigCtesSql: String = minhashSigCtesSql(8)

  private def minhashLshChainSql(capped: Boolean): String = {
    val pairSrc = if (capped) "cap" else "bnd"
    val capCte = if (capped)
      """cap AS (SELECT doc_id, band, bucket FROM bnd
        | QUALIFY COUNT(*) OVER (PARTITION BY band, bucket) <= 100),
        |""".stripMargin
    else ""
    s"""$MinhashSigCtesSql,
       |${capCte}pr AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       | FROM $pairSrc x JOIN $pairSrc y ON x.band = y.band
       |  AND x.bucket = y.bucket AND x.doc_id < y.doc_id),
       |sc AS (SELECT p.doc_a, p.doc_b,
       |  SUM(CASE WHEN sa.m = sb.m THEN 1 ELSE 0 END) / 64.0 AS est_jaccard
       | FROM pr p JOIN sigj sa ON sa.doc_id = p.doc_a
       | JOIN sigj sb ON sb.doc_id = p.doc_b AND sb.j = sa.j
       | GROUP BY 1, 2)""".stripMargin
  }

  /** The fuzzy-decon pair tail over [[MinhashSigCtesSql]]: training ×
    * benchmark candidates through shared (band, bucket) cells, scored
    * by signature-match fraction, thresholded at est ≥ 0.5. Ends at
    * `fzsc` (doc_id, bench_id, est).
    */
  private def fuzzyDeconPairCtesSql(threshold: Double): String =
    s"""fzpr AS (SELECT DISTINCT x.doc_id AS doc_id, y.doc_id AS bench_id
      | FROM bnd x JOIN bnd y ON x.band = y.band AND x.bucket = y.bucket
      | WHERE x.doc_id % 20 <> 0 AND y.doc_id % 20 = 0),
      |fzsc AS (SELECT doc_id, bench_id, est FROM (
      |  SELECT p.doc_id, p.bench_id,
      |   SUM(CASE WHEN sa.m = sb.m THEN 1 ELSE 0 END) / 64.0 AS est
      |  FROM fzpr p JOIN sigj sa ON sa.doc_id = p.doc_id
      |  JOIN sigj sb ON sb.doc_id = p.bench_id AND sb.j = sa.j
      |  GROUP BY 1, 2) WHERE est >= $threshold)""".stripMargin

  private val FuzzyDeconPairCtesSql: String = fuzzyDeconPairCtesSql(0.5)

  /** q186 (one-shot) and q187 (persisted-index two-fold union —
    * per-doc independence makes them identical): per-training-doc
    * fuzzy contamination report.
    */
  private val FuzzyDeconOracleSql: String = materializeCtes(
    s"""WITH $MinhashSigCtesSql,
       |$FuzzyDeconPairCtesSql,
       |fm AS (SELECT doc_id, COUNT(*) AS n_matches, MAX(est) AS mx
       | FROM fzsc GROUP BY doc_id)
       |SELECT d.doc_id,
       | CAST(COALESCE(fm.n_matches, 0) AS BIGINT) AS n_matches,
       | COALESCE(fm.mx, 0.0) AS max_est_jaccard,
       | COALESCE(fm.n_matches, 0) > 0 AS contaminated
       |FROM (SELECT CAST(doc_id AS BIGINT) AS doc_id FROM documents
       |  WHERE doc_id % 20 <> 0) d
       |LEFT JOIN fm USING (doc_id)
       |ORDER BY doc_id""".stripMargin)

  /** q202: the banded-Hamming eval replayed bit-for-bit — id-derived
    * 46-bit hashes (disjoint bit fields, so + is |), 16 4-bit bands,
    * hot-bucket cap 40 over the FULL corpus, candidate pairs through
    * shared cells, exact bit_count verify; truth = all-pairs
    * bit_count ≤ 8 on the %3 sample. One precision/recall row.
    */
  private val HammingEvalOracleSql: String = materializeCtes(
    s"""WITH e AS ($EventsUsSql),
       |hh AS (SELECT CAST(event_id AS BIGINT) AS id,
       |  ((event_id // 13) % 10)
       |    + ((event_id // 130) * 2654435761) % 65536 * 65536
       |    + ((event_id // 130) * 40503) % 65536 * 4294967296 AS h
       | FROM e WHERE event_id % 13 = 0 AND event_id < 10000),
       |hbd AS (SELECT id, h, band, (h >> (band * 4)) & 15 AS bucket
       | FROM hh CROSS JOIN (SELECT unnest(range(16)) AS band) bands),
       |hcap AS (SELECT id, h, band, bucket FROM hbd
       | QUALIFY COUNT(*) OVER (PARTITION BY band, bucket) <= 40),
       |hcnd AS (SELECT DISTINCT a.id AS ia, a.h AS ha,
       |  x.id AS ib, x.h AS hb
       | FROM hcap a JOIN hcap x ON a.band = x.band
       |  AND a.bucket = x.bucket AND a.id < x.id),
       |hver AS (SELECT ia, ib, 1 AS c FROM hcnd
       | WHERE bit_count(xor(ha, hb)) <= 8
       |  AND ia % 3 = 0 AND ib % 3 = 0),
       |htru AS (SELECT a.id AS ia, x.id AS ib, 1 AS t
       | FROM hh a JOIN hh x ON a.id < x.id
       |  AND bit_count(xor(a.h, x.h)) <= 8
       | WHERE a.id % 3 = 0 AND x.id % 3 = 0),
       |hj AS (SELECT COALESCE(htru.t, 0) AS t, COALESCE(hver.c, 0) AS c
       | FROM htru FULL OUTER JOIN hver
       |  ON htru.ia = hver.ia AND htru.ib = hver.ib),
       |hag AS (SELECT COALESCE(SUM(t), 0) AS n_true,
       |  COALESCE(SUM(c), 0) AS n_cand,
       |  COALESCE(SUM(t * c), 0) AS n_hit FROM hj)
       |SELECT CAST(n_true AS BIGINT) AS n_true,
       | CAST(n_cand AS BIGINT) AS n_cand,
       | CAST(n_hit AS BIGINT) AS n_hit,
       | CASE WHEN n_cand = 0 THEN 0.0
       |   ELSE CAST(n_hit AS DOUBLE) / n_cand END AS prec,
       | CASE WHEN n_true = 0 THEN 0.0
       |   ELSE CAST(n_hit AS DOUBLE) / n_true END AS recall
       |FROM hag""".stripMargin)

  /** q203: the PDF round trip predicted from the text alone —
    * extraction joins the two fixture lines with a newline (rendered
    * `|` in the lane's flat compare column) UNLESS the body block is
    * empty (empty blocks don't join).
    */
  private val PdfExtractOracleSql: String =
    """SELECT CAST(doc_id AS BIGINT) AS media_id,
      | 'Report (' || CAST(doc_id AS BIGINT) || ')' ||
      |   CASE WHEN regexp_replace(COALESCE(text, ''),
      |       '[^A-Za-z0-9 ]', '', 'g') = '' THEN ''
      |     ELSE '|' || regexp_replace(COALESCE(text, ''),
      |       '[^A-Za-z0-9 ]', '', 'g') END AS text
      |FROM documents ORDER BY media_id""".stripMargin

  /** q188: exact bigram-Jaccard truth (labeled %2 sample × full
    * benchmark, from the chain's own `sh` sets) vs the banded
    * candidates — one precision/recall row.
    */
  private val FuzzyDeconEvalOracleSql: String = materializeCtes(
    s"""WITH $MinhashSigCtesSql,
       |$FuzzyDeconPairCtesSql,
       |fsz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
       |ftp AS (SELECT a.doc_id AS doc_id, b.doc_id AS bench_id,
       |  COUNT(*) AS shared
       | FROM sh a JOIN sh b ON a.s = b.s
       | WHERE a.doc_id % 20 <> 0 AND a.doc_id % 2 = 0
       |  AND b.doc_id % 20 = 0
       | GROUP BY 1, 2),
       |ftr AS (SELECT ftp.doc_id, ftp.bench_id, 1 AS t
       | FROM ftp JOIN fsz ta ON ta.doc_id = ftp.doc_id
       | JOIN fsz tb ON tb.doc_id = ftp.bench_id
       | WHERE CAST(shared AS DOUBLE) / (ta.n + tb.n - shared) >= 0.5),
       |fcd AS (SELECT doc_id, bench_id, 1 AS c FROM fzsc
       | WHERE doc_id % 2 = 0),
       |fj AS (SELECT COALESCE(ftr.doc_id, fcd.doc_id) AS doc_id,
       |  ftr.t, fcd.c
       | FROM ftr FULL OUTER JOIN fcd
       |  ON ftr.doc_id = fcd.doc_id AND ftr.bench_id = fcd.bench_id),
       |fag AS (SELECT COALESCE(SUM(t), 0) AS n_true,
       |  COALESCE(SUM(c), 0) AS n_cand,
       |  COALESCE(SUM(t * c), 0) AS n_hit FROM fj)
       |SELECT CAST(n_true AS BIGINT) AS n_true,
       | CAST(n_cand AS BIGINT) AS n_cand,
       | CAST(n_hit AS BIGINT) AS n_hit,
       | CASE WHEN n_cand = 0 THEN 0.0
       |   ELSE CAST(n_hit AS DOUBLE) / n_cand END AS prec,
       | CASE WHEN n_true = 0 THEN 0.0
       |   ELSE CAST(n_hit AS DOUBLE) / n_true END AS recall
       |FROM fag""".stripMargin)

  /** q180: the q21 LSH chain (capped) as the candidate side, exact
    * bigram Jaccard from the chain's own `sh` shingle sets (restricted
    * to the labeled subset) as truth, full-outer pair join → one
    * precision/recall row.
    */
  private val LshEvalOracleSql: String = materializeCtes(
    s"""WITH ${minhashLshChainSql(capped = true)},
       |cnd AS (SELECT doc_a, doc_b FROM sc
       | WHERE est_jaccard >= 0.3 AND doc_a < 400 AND doc_b < 400),
       |tsz AS (SELECT doc_id, COUNT(*) AS n FROM sh
       | WHERE doc_id < 400 GROUP BY doc_id),
       |tint AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
       |  COUNT(*) AS shared
       | FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
       | WHERE x.doc_id < 400 AND y.doc_id < 400 GROUP BY 1, 2),
       |tru AS (SELECT doc_a, doc_b FROM tint
       | JOIN tsz sa ON sa.doc_id = tint.doc_a
       | JOIN tsz sb ON sb.doc_id = tint.doc_b
       | WHERE CAST(shared AS DOUBLE) / (sa.n + sb.n - shared) >= 0.3),
       |j AS (SELECT COALESCE(t.one, 0) AS t, COALESCE(c.one, 0) AS c
       | FROM (SELECT doc_a, doc_b, 1 AS one FROM tru) t
       | FULL OUTER JOIN (SELECT doc_a, doc_b, 1 AS one FROM cnd) c
       |  USING (doc_a, doc_b))
       |SELECT CAST(COALESCE(SUM(t), 0) AS BIGINT) AS n_true,
       | CAST(COALESCE(SUM(c), 0) AS BIGINT) AS n_cand,
       | CAST(COALESCE(SUM(t * c), 0) AS BIGINT) AS n_hit,
       | CASE WHEN COALESCE(SUM(c), 0) = 0 THEN 0.0
       |  ELSE CAST(SUM(t * c) AS DOUBLE) / SUM(c) END AS prec,
       | CASE WHEN COALESCE(SUM(t), 0) = 0 THEN 0.0
       |  ELSE CAST(SUM(t * c) AS DOUBLE) / SUM(t) END AS recall
       |FROM j""".stripMargin)

  private val CmSketchOracleSql: String = {
    val mults = Seq(31L, 37L, 41L, 43L)
    def cells(src: String) = mults.zipWithIndex.map { case (m, i) =>
      s"""SELECT t, $i AS r,
         |   ${polyHashSql("t", m)} % 256 AS bucket FROM $src"""
        .stripMargin }.mkString("\nUNION ALL\n")
    s"""WITH toks AS (SELECT
       |   unnest(string_split_regex(trim(text), '\\s+')) AS t
       | FROM documents),
       |tc AS (SELECT t, COUNT(*) AS true_cnt FROM toks GROUP BY t),
       |cells AS (${cells("toks")}),
       |cm AS (SELECT r, bucket, COUNT(*) AS cnt FROM cells
       | GROUP BY r, bucket),
       |probe AS (${cells("tc")}),
       |est AS (SELECT t, MIN(COALESCE(cm.cnt, 0)) AS est_cnt
       | FROM probe LEFT JOIN cm USING (r, bucket) GROUP BY t)
       |SELECT tc.t AS token, CAST(true_cnt AS BIGINT) AS true_cnt,
       | CAST(est_cnt AS BIGINT) AS est_cnt
       |FROM tc JOIN est ON tc.t = est.t ORDER BY token""".stripMargin
  }

  /** KMV replay: k = 8 smallest distinct hashes per source. */
  private val KmvOracleSql: String =
    s"""WITH toks AS (SELECT source AS grp,
       |   unnest(string_split_regex(trim(text), '\\s+')) AS token
       | FROM documents),
       |hs AS (SELECT DISTINCT grp,
       |   ${polyHashSql("token || '|kmv-salt'")} AS h
       | FROM toks),
       |rk AS (SELECT grp, h,
       |   ROW_NUMBER() OVER (PARTITION BY grp ORDER BY h) AS rn FROM hs),
       |agg AS (SELECT grp, COUNT(*) AS n_kept, MAX(h) AS kth_min
       | FROM rk WHERE rn <= 8 GROUP BY grp)
       |SELECT grp, CAST(n_kept AS BIGINT) AS n_kept,
       | CAST(kth_min AS BIGINT) AS kth_min,
       | CAST(CASE WHEN n_kept < 8 THEN n_kept
       |   ELSE (7 * CAST(2147483647 AS BIGINT)) // kth_min END
       |   AS BIGINT) AS est_distinct
       |FROM agg ORDER BY grp""".stripMargin

  /** Tokenize-and-pack replay: real per-doc BPE counts from the chain
    * (the q106 machinery), then the q87 cumsum layout on a 512-token
    * chunk budget.
    */
  private val TokenizePackOracleSql: String =
    s"""WITH ${bpeChainSql(BpeSteps)},
       |toks AS (SELECT doc_id,
       |   unnest(string_split_regex(trim(text), '\\s+')) AS tok
       | FROM documents),
       |cnts AS (SELECT t.doc_id, COUNT(v.pos) AS bpe
       | FROM toks t JOIN v$BpeSteps v ON v.wid = t.tok GROUP BY t.doc_id),
       |n AS (SELECT d.source AS stream, d.doc_id,
       |  CAST(COALESCE(c.bpe, 0) AS BIGINT) AS n_tokens
       | FROM documents d LEFT JOIN cnts c ON d.doc_id = c.doc_id),
       |cum AS (SELECT stream, doc_id, n_tokens,
       |  CAST(SUM(n_tokens) OVER (PARTITION BY stream ORDER BY doc_id
       |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS end_tok FROM n)
       |SELECT stream, doc_id, n_tokens, end_tok,
       | end_tok - n_tokens AS start_tok,
       | CAST((end_tok - n_tokens) // 512 AS BIGINT) AS first_chunk,
       | CAST((end_tok - 1) // 512 AS BIGINT) AS last_chunk
       |FROM cum ORDER BY stream, doc_id""".stripMargin

  private val BpeTokenCountsOracleSql: String =
    s"""WITH ${bpeChainSql(BpeSteps)},
       |toks AS (SELECT doc_id,
       |   unnest(string_split_regex(trim(text), '\\s+')) AS tok
       | FROM documents),
       |cnts AS (SELECT t.doc_id, COUNT(v.pos) AS bpe
       | FROM toks t JOIN v$BpeSteps v ON v.wid = t.tok GROUP BY t.doc_id)
       |SELECT d.doc_id,
       | CAST(len(string_split_regex(trim(d.text), '\\s+')) AS BIGINT)
       |   AS n_words,
       | CAST(greatest(len(string_split_regex(trim(d.text), '\\s+')),
       |   CAST(ceil(CAST(len(d.text) AS DOUBLE) / 4.0) AS BIGINT))
       |   AS BIGINT) AS est_bpe_tokens,
       | CAST(COALESCE(c.bpe, 0) AS BIGINT) AS bpe_tokens
       |FROM documents d LEFT JOIN cnts c ON d.doc_id = c.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** Mixture replay — shared by q96 (one-shot) and q105 (persisted
    * index, two batch folds whose selection must equal the one-shot
    * run): exact integer caps from strata counts, portable-hash rank
    * order.
    */
  private val MixOracleSql: String =
    """WITH tgt AS (SELECT * FROM (VALUES ('en', 5000), ('fr', 2000),
      |  ('de', 1500), ('es', 1000), ('zh', 500)) t(lang, share10k)),
      |c AS (SELECT lang, COUNT(*) AS cs FROM documents GROUP BY lang),
      |j AS (SELECT c.lang, cs, share10k FROM c JOIN tgt USING (lang)),
      |n AS (SELECT MIN((cs * 10000) // share10k) AS nn FROM j),
      |caps AS (SELECT lang, (nn * share10k) // 10000 AS k FROM j, n),
      |r AS (SELECT doc_id, lang,
      |  ROW_NUMBER() OVER (PARTITION BY lang ORDER BY
      |    list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(
      |        string_split(CAST(doc_id AS VARCHAR) || '|' || lang, ''),
      |        c -> CAST(ascii(c) AS BIGINT))),
      |      (h, c) -> (h * 31 + c) % 2147483647), doc_id) AS mix_rank
      | FROM documents)
      |SELECT doc_id, lang, CAST(mix_rank AS BIGINT) AS mix_rank
      |FROM r JOIN caps USING (lang)
      |WHERE mix_rank <= k ORDER BY doc_id""".stripMargin

  /** The q56 MinHash-LSH → connected-components chain (through the
    * recursive `walk` CTE), shared by q56 and q112. The enclosing
    * query must open with `WITH RECURSIVE`.
    */
  /** MinHash-LSH → candidate pairs → connected components, replayed
    * in SQL (2-gram shingles, 64 portable perms, 8 bands, bucket cap
    * 100, est ≥ 0.125), parameterized over the doc source (`src` must
    * provide doc_id + text) and a CTE-name prefix `p` so the chain
    * composes into larger oracles without name collisions.
    */
  private def dupClustersChain(src: String, p: String): String = {
    val perms = Dedup.minhashPerms(64, 42L)
    val aList = perms.map(_._1).mkString(", ")
    val bList = perms.map(_._2).mkString(", ")
    s"""${p}toks AS (SELECT doc_id,
       |  unnest(string_split_regex(trim(text), '\\s+')) AS tok,
       |  unnest(range(len(string_split_regex(trim(text), '\\s+')))) AS i
       | FROM $src),
       |${p}shr AS (SELECT doc_id, tok || ' ' || lead(tok, 1) OVER
       |  (PARTITION BY doc_id ORDER BY i) AS s FROM ${p}toks),
       |${p}sh AS (SELECT DISTINCT doc_id, s FROM ${p}shr
       | WHERE s IS NOT NULL),
       |${p}hs AS (SELECT doc_id,
       |  list_reduce(list_prepend(CAST(0 AS BIGINT),
       |    list_transform(string_split(s, ''), c -> CAST(ascii(c) AS BIGINT))),
       |    (h, c) -> (h * 31 + c) % 2147483647) AS h FROM ${p}sh),
       |${p}pm AS (SELECT unnest([$aList]) AS a, unnest([$bList]) AS b,
       |  unnest(range(64)) AS j),
       |${p}sigj AS (SELECT doc_id, j, MIN((a * h + b) % 2147483647) AS m
       | FROM ${p}hs CROSS JOIN ${p}pm GROUP BY doc_id, j),
       |${p}bnd AS (SELECT doc_id, j // 8 AS band,
       |  string_agg(CAST(m AS VARCHAR), ',' ORDER BY j) AS bucket
       | FROM ${p}sigj GROUP BY doc_id, band),
       |${p}cap AS (SELECT doc_id, band, bucket FROM ${p}bnd
       | QUALIFY COUNT(*) OVER (PARTITION BY band, bucket) <= 100),
       |${p}pr AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       | FROM ${p}cap x JOIN ${p}cap y ON x.band = y.band
       |  AND x.bucket = y.bucket AND x.doc_id < y.doc_id),
       |${p}sc AS (SELECT p.doc_a, p.doc_b,
       |  SUM(CASE WHEN sa.m = sb.m THEN 1 ELSE 0 END) / 64.0 AS est_jaccard
       | FROM ${p}pr p JOIN ${p}sigj sa ON sa.doc_id = p.doc_a
       | JOIN ${p}sigj sb ON sb.doc_id = p.doc_b AND sb.j = sa.j
       | GROUP BY 1, 2),
       |${p}pairs AS (SELECT doc_a, doc_b FROM ${p}sc
       | WHERE est_jaccard >= 0.125),
       |${p}ed AS (SELECT doc_a AS s, doc_b AS d FROM ${p}pairs
       | UNION SELECT doc_b, doc_a FROM ${p}pairs),
       |${p}walk(node, r) AS (SELECT s, s FROM ${p}ed
       | UNION SELECT e.d, w.r FROM ${p}walk w JOIN ${p}ed e
       |  ON e.s = w.node)"""
      .stripMargin
  }

  private val DupClustersChainSql: String = dupClustersChain("documents", "")

  /** One-shot replay of the FULL curation recipe (q126 batch folds,
    * q127 streamed folds — fold-vs-one-shot equivalence IS the claim):
    * decon gate (q110's kept1) → duplicated-span gate (8-token
    * windows, drop > 50% shared) → near-dup representative gate
    * (MinHash-LSH clusters keep their (n_distinct DESC, id) best) →
    * DSIR top-fraction → exact mixture.
    */
  private val CurationChainHeadSql: String =
    s"""WITH RECURSIVE dtk AS (SELECT doc_id,
       |  unnest(string_split_regex(trim(text), '\\s+')) AS tok,
       |  unnest(range(len(string_split_regex(trim(text), '\\s+')))) AS i
       | FROM documents),
       |dshr AS (SELECT doc_id,
       |  tok || ' ' || lead(tok, 1) OVER (PARTITION BY doc_id ORDER BY i)
       |      || ' ' || lead(tok, 2) OVER (PARTITION BY doc_id ORDER BY i)
       |      || ' ' || lead(tok, 3) OVER (PARTITION BY doc_id ORDER BY i)
       |      || ' ' || lead(tok, 4) OVER (PARTITION BY doc_id ORDER BY i)
       |    AS s FROM dtk)""".stripMargin

  /** The exact-index decon gate (q110/q126/q127/q135): benchmark
    * 5-shingle hash set, per-doc overlap fraction. Ends at `kept1`;
    * `extraKept1Pred` injects an additional survivor condition (the
    * q162 funnel membership).
    */
  private def curationExactDeconSql(extraKept1Pred: String = ""): String =
    s"""dhs AS (SELECT DISTINCT doc_id, ${polyHashSql("s")} AS h
       | FROM dshr WHERE s IS NOT NULL),
       |bh AS (SELECT DISTINCT h FROM dhs WHERE doc_id % 20 = 0),
       |dagg AS (SELECT t.doc_id, COUNT(*) AS n_sh,
       |   SUM(CASE WHEN b.h IS NOT NULL THEN 1 ELSE 0 END) AS n_ov
       |  FROM dhs t LEFT JOIN bh b ON t.h = b.h
       |  WHERE t.doc_id % 20 <> 0 GROUP BY t.doc_id),
       |kept1 AS (SELECT d.doc_id, d.lang FROM documents d
       |  LEFT JOIN dagg a USING (doc_id)
       |  WHERE d.doc_id % 20 <> 0 $extraKept1Pred AND NOT (
       |    CASE WHEN COALESCE(a.n_sh, 0) > 0
       |      THEN CAST(a.n_ov AS DOUBLE) / a.n_sh ELSE 0.0 END >= 0.05))"""
      .stripMargin

  private val CurationExactDeconSql: String = curationExactDeconSql()

  /** The quality-funnel rule chain (q157's thresholds: minTokens 20,
    * stop 15%, avg token length ≥ 3.9 chars, q77 repetition bars,
    * lang en), CTE names prefixed with `p` so the SAME builder serves
    * the standalone q157 oracle (p = "", final `rules`) and the q162
    * curation chain (p = "f", no collisions inside the shared
    * recursive WITH) — the thresholds live in exactly one place.
    * Ends at `{p}rules`: (doc_id, n_tokens, lang_guess, r_len,
    * r_avg_len, r_stop, r_rep, r_lang, keep).
    */
  private def funnelRulesSql(p: String,
                             src: String = "documents"): String =
    s"""${p}base AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
       |  list_filter(string_split(trim(text), chr(10)),
       |    x -> len(trim(x)) > 0) AS ls,
       |  list_filter(string_split_regex(trim(text), '\\s+'),
       |    x -> len(x) > 0) AS ws
       | FROM $src),
       |${p}lw AS (SELECT doc_id, len(ls) AS nl, len(ws) AS nw,
       |  COALESCE(list_sum(list_transform(ls, x -> len(x))), 0) AS lc,
       |  COALESCE(list_sum(list_transform(list_distinct(ls),
       |    x -> len(x))), 0) AS dlc,
       |  len(list_distinct(ls)) AS dnl,
       |  COALESCE(list_sum(list_transform(ws, x -> len(x))), 0) AS wc,
       |  len(list_filter(ws, x -> list_contains(
       |    ['the','a','of','and','to','in'], x))) AS nstop,
       |  ws FROM ${p}base),
       |${p}g2 AS (SELECT doc_id, unnest(list_transform(range(1, nw),
       |  i -> ws[i] || ' ' || ws[i + 1])) AS g FROM ${p}lw WHERE nw >= 2),
       |${p}c2 AS (SELECT doc_id, g, COUNT(*) AS c FROM ${p}g2
       | GROUP BY 1, 2),
       |${p}b2 AS (SELECT doc_id, c, len(g) - 1 AS l FROM (
       |  SELECT *, row_number() OVER (PARTITION BY doc_id
       |    ORDER BY c DESC, len(g) - 1 DESC, g DESC) AS rn FROM ${p}c2)
       | WHERE rn = 1),
       |${p}g5 AS (SELECT doc_id, unnest(list_transform(range(1, nw - 3),
       |  i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2] || ' ' ||
       |    ws[i + 3] || ' ' || ws[i + 4])) AS g FROM ${p}lw
       | WHERE nw >= 5),
       |${p}c5 AS (SELECT doc_id,
       |  SUM(CASE WHEN c > 1 THEN c * (len(g) - 4) ELSE 0 END) AS dup
       | FROM (SELECT doc_id, g, COUNT(*) AS c FROM ${p}g5 GROUP BY 1, 2)
       | GROUP BY 1),
       |${p}rep AS (SELECT ${p}lw.doc_id,
       |  (CASE WHEN nl > 0 THEN CAST(nl - dnl AS DOUBLE) / nl
       |    ELSE 0.0 END) <= 0.30 AND
       |  (CASE WHEN lc > 0 THEN CAST(lc - dlc AS DOUBLE) / lc
       |    ELSE 0.0 END) <= 0.20 AND
       |  (CASE WHEN ${p}b2.c IS NOT NULL AND wc > 0
       |    THEN CAST(${p}b2.c * ${p}b2.l AS DOUBLE) / wc
       |    ELSE 0.0 END) <= 0.20 AND
       |  (CASE WHEN wc > 0 THEN least(1.0,
       |      CAST(COALESCE(${p}c5.dup, 0) AS DOUBLE) / wc)
       |    ELSE 0.0 END) <= 0.15 AS r_rep
       | FROM ${p}lw LEFT JOIN ${p}b2 ON ${p}lw.doc_id = ${p}b2.doc_id
       |   LEFT JOIN ${p}c5 ON ${p}lw.doc_id = ${p}c5.doc_id),
       |${p}lex(lang, words) AS (VALUES
       |  ('de', ['der','die','das','und','ist','ein','nicht','mit']),
       |  ('en', ['the','and','of','to','is','in','that','it']),
       |  ('es', ['el','la','los','las','es','una','que','por']),
       |  ('fr', ['le','la','et','les','des','un','une','est']),
       |  ('zh', ['的','是','了','在','我','有','和','不'])),
       |${p}tk AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
       |  unnest(string_split_regex(trim(lower(text)), '\\s+')) AS t
       | FROM documents),
       |${p}sc AS (SELECT ${p}tk.doc_id, ${p}lex.lang,
       |  SUM(CASE WHEN list_contains(${p}lex.words, ${p}tk.t)
       |    THEN 1 ELSE 0 END) AS score
       | FROM ${p}tk CROSS JOIN ${p}lex GROUP BY 1, 2),
       |${p}best AS (SELECT doc_id, lang, score, row_number() OVER
       |  (PARTITION BY doc_id ORDER BY score DESC, lang) AS rn
       | FROM ${p}sc),
       |${p}lg AS (SELECT doc_id,
       |  CASE WHEN score > 0 THEN lang ELSE 'und' END AS lang_guess
       | FROM ${p}best WHERE rn = 1),
       |${p}rules AS (SELECT ${p}lw.doc_id,
       |  CAST(nw AS BIGINT) AS n_tokens, ${p}lg.lang_guess,
       |  nw >= 20 AND nw <= 100000 AS r_len,
       |  wc * 10 >= nw * 39 AND wc * 10 <= nw * 100 AS r_avg_len,
       |  nstop * 10000 <= nw * 1500 AS r_stop,
       |  ${p}rep.r_rep AS r_rep,
       |  ${p}lg.lang_guess = 'en' AS r_lang,
       |  nw >= 20 AND nw <= 100000
       |    AND wc * 10 >= nw * 39 AND wc * 10 <= nw * 100
       |    AND nstop * 10000 <= nw * 1500
       |    AND ${p}rep.r_rep AND ${p}lg.lang_guess = 'en' AS keep
       | FROM ${p}lw JOIN ${p}rep ON ${p}lw.doc_id = ${p}rep.doc_id
       |   JOIN ${p}lg ON ${p}lw.doc_id = ${p}lg.doc_id)""".stripMargin

  /** The q162 chain's funnel block: the shared rule chain (f-prefixed)
    * reduced to the surviving doc set.
    */
  private val CurationFunnelSql: String =
    funnelRulesSql("f") + ",\n" +
      "fkeep AS (SELECT doc_id FROM frules WHERE keep)"

  /** The BLOOM decon gate (q146): the same shingle stream, hits
    * decided by the 3-row × 64k-bit membership test (the q138 replay
    * at shingleN = 5). flag_bloom ⊇ flag_exact, so this kept1 ⊆ the
    * exact chain's — bounded gate state, never a false negative.
    * Ends at `kept1`.
    */
  private val CurationBloomDeconSql: String = {
    val mults = Seq(31L, 37L, 41L)
    val setPos = mults.map(m =>
      s"SELECT DISTINCT ${polyHashSql("s", m)} % 65536 AS pos FROM bsh5")
      .mkString("\nUNION\n")
    val allK = mults.map(m =>
      s"(${polyHashSql("s", m)} % 65536) IN (SELECT pos FROM bloom5)")
      .mkString("\n  AND ")
    s"""dsh AS (SELECT DISTINCT doc_id, s FROM dshr WHERE s IS NOT NULL),
       |bsh5 AS (SELECT DISTINCT s FROM dsh WHERE doc_id % 20 = 0),
       |bloom5 AS ($setPos),
       |hit AS (SELECT doc_id, CASE WHEN $allK
       |   THEN 1 ELSE 0 END AS ib
       |  FROM dsh WHERE doc_id % 20 <> 0),
       |bagg AS (SELECT doc_id, COUNT(*) AS n_sh,
       |   SUM(ib) AS n_ov FROM hit GROUP BY doc_id),
       |kept1 AS (SELECT d.doc_id, d.lang FROM documents d
       |  LEFT JOIN bagg a USING (doc_id)
       |  WHERE d.doc_id % 20 <> 0 AND NOT (
       |    CASE WHEN COALESCE(a.n_sh, 0) > 0
       |      THEN CAST(a.n_ov AS DOUBLE) / a.n_sh ELSE 0.0 END >= 0.05))"""
      .stripMargin
  }

  private val CurationChainTailSql: String =
    s"""ksrc AS (SELECT d.doc_id, d.text FROM documents d
       |  JOIN kept1 USING (doc_id)),
       |sbase AS (SELECT doc_id,
       |  string_split_regex(trim(text), '\\s+') AS ws FROM ksrc),
       |swins AS (SELECT doc_id,
       |  unnest(list_transform(range(1, len(ws) - 6),
       |    i -> array_to_string(ws[i:i + 7], ' '))) AS win
       | FROM sbase WHERE len(ws) >= 8),
       |shashed AS (SELECT doc_id, ${polyHashSql("win")} AS wh
       | FROM swins),
       |sshared AS (SELECT wh FROM shashed GROUP BY 1
       | HAVING COUNT(DISTINCT doc_id) > 1),
       |sfrac AS (SELECT doc_id, COUNT(*) AS n_win,
       |  SUM(CASE WHEN wh IN (SELECT wh FROM sshared)
       |    THEN 1 ELSE 0 END) AS n_dup
       | FROM shashed GROUP BY doc_id),
       |spandrop AS (SELECT doc_id FROM sfrac
       | WHERE n_dup * 10000 > n_win * 5000),
       |${dupClustersChain("ksrc", "nd")},
       |ndq AS (SELECT doc_id, COUNT(DISTINCT tok) AS n_distinct
       | FROM ndtoks GROUP BY doc_id),
       |ndcl AS (SELECT node AS doc_id, MIN(r) AS cluster_id
       | FROM ndwalk GROUP BY node),
       |ndmem AS (SELECT c.doc_id, ROW_NUMBER() OVER (
       |   PARTITION BY c.cluster_id
       |   ORDER BY q.n_distinct DESC, c.doc_id) AS rn
       | FROM ndcl c JOIN ndq q USING (doc_id)),
       |nddrop AS (SELECT doc_id FROM ndmem WHERE rn <> 1),
       |kept2 AS (SELECT doc_id, lang FROM kept1
       | WHERE doc_id NOT IN (SELECT doc_id FROM spandrop)
       |   AND doc_id NOT IN (SELECT doc_id FROM nddrop)),
       |grams AS (
       | SELECT doc_id, tok AS s FROM dtk
       | UNION ALL
       | SELECT doc_id,
       |  tok || ' ' || lead(tok, 1) OVER (PARTITION BY doc_id ORDER BY i)
       |    AS s FROM dtk),
       |feats AS (SELECT doc_id, ${polyHashSql("s")} % 65536 AS b
       | FROM grams WHERE s IS NOT NULL),
       |p AS (SELECT b, COUNT(*) AS pc FROM feats GROUP BY b),
       |q AS (SELECT b, COUNT(*) AS qc FROM feats f
       |  JOIN documents d USING (doc_id) WHERE d.lang = 'en' GROUP BY b),
       |bt AS (SELECT p.b,
       |  ((COALESCE(q.qc, 0) + 1) * 1000000) // (p.pc + 1) AS contrib
       | FROM p LEFT JOIN q ON p.b = q.b),
       |sagg AS (SELECT doc_id, COUNT(*) AS n_feats, SUM(contrib) AS cs
       | FROM feats JOIN bt USING (b) GROUP BY doc_id),
       |scored AS (SELECT k.doc_id, k.lang,
       |   CAST(cs AS DOUBLE) / CAST(n_feats * 1000000 AS DOUBLE) AS sc
       |  FROM kept2 k JOIN sagg s USING (doc_id)),
       |keepn AS (SELECT (COUNT(*) * 4000) // 10000 AS kp FROM scored),
       |kept3 AS (SELECT doc_id, lang FROM (
       |  SELECT doc_id, lang,
       |    ROW_NUMBER() OVER (ORDER BY sc DESC, doc_id) AS ir
       |  FROM scored), keepn WHERE ir <= kp),
       |tgt AS (SELECT * FROM (VALUES ('en', 8000), ('es', 1500),
       |  ('de', 500)) t(lang, share10k)),
       |c AS (SELECT lang, COUNT(*) AS cs FROM kept3 GROUP BY lang),
       |j AS (SELECT c.lang, cs, share10k FROM c JOIN tgt USING (lang)),
       |n AS (SELECT MIN((cs * 10000) // share10k) AS nn FROM j),
       |caps AS (SELECT lang, (nn * share10k) // 10000 AS k FROM j, n),
       |r AS (SELECT doc_id, lang,
       |  ROW_NUMBER() OVER (PARTITION BY lang ORDER BY
       |    ${polyHashSql("CAST(doc_id AS VARCHAR) || '|' || lang")},
       |    doc_id) AS mix_rank
       | FROM kept3)""".stripMargin

  /** Assemble head + decon block + tail. Each part is pre-margin-
    * stripped — never re-apply stripMargin over the assembled chain
    * (a second pass eats one pipe of every `|| ' ' ||` line).
    */
  private def curationChainSql(deconBlock: String): String =
    CurationChainHeadSql + ",\n" + deconBlock + ",\n" +
      CurationChainTailSql

  private val CurationFullChainSql: String =
    curationChainSql(CurationExactDeconSql)

  private val CurationBloomChainSql: String =
    curationChainSql(CurationBloomDeconSql)

  /** q205: the q126 chain with the FUZZY decon gate composed in —
    * the q186 CTE chain (2-shingle MinHash signatures, banded
    * training×benchmark candidates, est ≥ 0.5) derives the fuzzy
    * drop set, threaded into kept1 alongside the exact gate (a doc
    * must pass BOTH, matching the fold's two survivor joins). The
    * corpus is `pdocs` — documents PLUS the planted
    * every-5th-token-dropped benchmark paraphrases (id + 100001,
    * 1-based positions ≡ 0 mod 5 removed; Spark's `tokens` split
    * replayed verbatim, no empty-token filter) — so every chain
    * component's `documents` source rewrites to it.
    */
  private val CurationFuzzyChainSql: String = {
    val paraDocs =
      """pdocs AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, text, lang
        | FROM documents
        | UNION ALL
        | SELECT CAST(doc_id AS BIGINT) + 100001 AS doc_id,
        |  array_to_string(list_transform(list_filter(
        |    range(1, len(pws) + 1), i -> i % 5 <> 0),
        |    i -> pws[i]), ' ') AS text, lang
        | FROM (SELECT doc_id, lang,
        |   string_split_regex(trim(text), '\s+') AS pws
        |  FROM documents WHERE doc_id % 20 = 0) pb)""".stripMargin
    // 32 bands (2 perms each) + est ≥ 0.45: measured on the planted
    // paraphrases — 8-perm bands candidate-missed 23 of 25 at j ≈ 0.5
    // (0.5⁸ per band); this setting catches 25/25 with zero
    // false-positive drops among ordinary training docs
    val body = (CurationChainHeadSql.stripPrefix("WITH RECURSIVE ") +
      ",\n" + minhashSigCtesSql(2) + ",\n" +
      fuzzyDeconPairCtesSql(0.45) + ",\n" +
      "fzdrop AS (SELECT DISTINCT doc_id FROM fzsc),\n" +
      curationExactDeconSql(
        "AND d.doc_id NOT IN (SELECT doc_id FROM fzdrop)") + ",\n" +
      CurationChainTailSql)
      .replace("FROM documents", "FROM pdocs")
      .replace("JOIN documents d", "JOIN pdocs d")
    "WITH RECURSIVE " + paraDocs + ",\n" + body
  }

  private val CurationFuzzyOracleSql: String = materializeCtes(
    CurationFuzzyChainSql + "\n" +
      """SELECT doc_id, lang, CAST(mix_rank AS BIGINT) AS mix_rank
        |FROM r JOIN caps USING (lang)
        |WHERE mix_rank <= k ORDER BY doc_id""".stripMargin)

  /** q206: the q126 chain with the IMAGE near-dup gate — the drop set
    * predicted from the fixture's pattern-class arithmetic (identical
    * dHash ⇔ same (doc_id div 15) mod 256 among image-carrying
    * doc_id ≡ 0 mod 5 survivors; min-id member kept), threaded into
    * kept2 alongside the span and near-dup gates.
    */
  /** The image-gate splice shared by q206/q207/q208: an `imgd` drop
    * set predicted from the fixture's class arithmetic (identical or
    * radius-merged dHash ⇔ same `partitionExpr` among image-carrying
    * doc_id ≡ 0 mod 5 kept1 survivors; min-id member kept), threaded
    * into kept2 alongside the span and near-dup gates.
    */
  private def imageGateSplicedTail(partitionExpr: String): String = {
    val kept2Tail = "AND doc_id NOT IN (SELECT doc_id FROM nddrop)),"
    require(CurationChainTailSql.contains(kept2Tail),
      "curation tail drifted: kept2's nddrop clause not found — fix " +
        "the image-gate splice")
    s"""imgd AS (SELECT doc_id FROM (
       |  SELECT doc_id, MIN(doc_id) OVER
       |    (PARTITION BY $partitionExpr) AS keepi
       |  FROM kept1 WHERE doc_id % 5 = 0) ik
       | WHERE doc_id <> keepi),""".stripMargin + "\n" +
      CurationChainTailSql.replace(kept2Tail,
        "AND doc_id NOT IN (SELECT doc_id FROM nddrop)\n" +
          "   AND doc_id NOT IN (SELECT doc_id FROM imgd)),")
  }

  private val CurationSelectTailSql: String =
    """SELECT doc_id, lang, CAST(mix_rank AS BIGINT) AS mix_rank
      |FROM r JOIN caps USING (lang)
      |WHERE mix_rank <= k ORDER BY doc_id""".stripMargin

  private val CurationImageOracleSql: String = materializeCtes(
    CurationChainHeadSql + ",\n" + CurationExactDeconSql + ",\n" +
      imageGateSplicedTail("(doc_id // 15) % 256") + "\n" +
      CurationSelectTailSql)

  /** q229: the cross-modal ALIGNMENT gate splice — the caption
    * hashEmbed replay (the q148 ef/eagg/edense/ev chain at dim 8,
    * restricted to image docs), w = max(emb, 0)+1, the fixture's
    * reversed-weights plant on (doc_id div 5) % 4 = 1, the s4 cosine
    * in the engine's exact expression shape (dot / (sqrt·sqrt)), and
    * the below-threshold drop threaded into kept2 exactly like the
    * image gate.
    */
  /** The q229/q236 alignment-score CTE block: caption hashEmbed
    * replay (dim 8, image docs), the fixture's reversed-weights
    * plant, the s4 cosine in the engine's exact expression shape —
    * ends at `ascr` (doc_id, s4).
    */
  private lazy val AlignScoreCtesSql: String =
    s"""aef AS (SELECT doc_id, ${polyHashSql("tok")} % 8 AS b,
       |   CASE WHEN ${polyHashSql("tok || '|sign'")} % 2 = 0
       |     THEN 1 ELSE -1 END AS sgn
       | FROM (SELECT doc_id,
       |    unnest(string_split_regex(trim(text), '\\s+')) AS tok
       |   FROM documents WHERE doc_id % 5 = 0)),
       |aeg AS (SELECT doc_id, b, SUM(sgn) AS c FROM aef
       | GROUP BY doc_id, b),
       |aed AS (SELECT d.doc_id, i.b, COALESCE(a.c, 0) AS c
       | FROM (SELECT DISTINCT doc_id FROM documents
       |   WHERE doc_id % 5 = 0) d
       | CROSS JOIN (SELECT unnest(range(8)) AS b) i
       | LEFT JOIN aeg a ON a.doc_id = d.doc_id AND a.b = i.b),
       |aev AS (SELECT doc_id, list(CAST(c AS DOUBLE) ORDER BY b) AS v
       | FROM aed GROUP BY doc_id HAVING SUM(c * c) > 0),
       |ahs AS (SELECT doc_id, v,
       |  CASE WHEN (doc_id // 5) % 4 = 1
       |   THEN list_reverse(list_transform(v, x -> greatest(x, 0) + 1))
       |   ELSE list_transform(v, x -> greatest(x, 0) + 1) END AS h
       | FROM aev),
       |ascr AS (SELECT doc_id,
       |  CAST(round(list_dot_product(v, h) /
       |    (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(h, h)))
       |    * 10000, 0) AS BIGINT) AS s4
       | FROM ahs)""".stripMargin

  private def alignGateSplicedTail(threshold: Long): String = {
    val kept2Tail = "AND doc_id NOT IN (SELECT doc_id FROM nddrop)),"
    require(CurationChainTailSql.contains(kept2Tail),
      "curation tail drifted: kept2's nddrop clause not found — fix " +
        "the align-gate splice")
    AlignScoreCtesSql + ",\n" +
      s"algd AS (SELECT doc_id FROM ascr WHERE s4 < $threshold),\n" +
      CurationChainTailSql.replace(kept2Tail,
        "AND doc_id NOT IN (SELECT doc_id FROM nddrop)\n" +
          "   AND doc_id NOT IN (SELECT doc_id FROM algd)),")
  }

  /** q229: the align-gated recipe oracle. */
  private val CurationAlignOracleSql: String = materializeCtes(
    CurationChainHeadSql + ",\n" + CurationExactDeconSql + ",\n" +
      alignGateSplicedTail(5000L) + "\n" +
      CurationSelectTailSql)

  /** q207: the RADIUS-1 image gate — the fixture's third group member
    * is one dHash bit off its codeword, so the drop partition is the
    * codeword index (doc_id div 15 mod 4), merging the dist-0 members
    * WITH the 1-bit-off member (the connected-component convention).
    */
  private val CurationImageRadiusOracleSql: String = materializeCtes(
    CurationChainHeadSql + ",\n" + CurationExactDeconSql + ",\n" +
      imageGateSplicedTail("(doc_id // 15) % 4") + "\n" +
      CurationSelectTailSql)

  /** q211: the AUDIO-gated recipe — the fixture's energy-envelope
    * fingerprint class is (doc_id div 15) mod 4 (the q209 comb at
    * per-doc volumes and sample rates, both invariant by
    * construction), so the predicted drop partition is the SAME
    * arithmetic as q207's — reached through a WAV decode instead of
    * a PNG decode, in exact (dist-0) mode.
    */
  private val CurationAudioOracleSql: String = materializeCtes(
    CurationChainHeadSql + ",\n" + CurationExactDeconSql + ",\n" +
      imageGateSplicedTail("(doc_id // 15) % 4") + "\n" +
      CurationSelectTailSql)

  /** q208: EVERY gate at once — funnel first, exact + fuzzy decon,
    * span, near-dup, image — the full multimodal curation recipe
    * under one oracle.
    */
  private val CurationAllGatesOracleSql: String = materializeCtes(
    CurationChainHeadSql + ",\n" + minhashSigCtesSql(2) + ",\n" +
      fuzzyDeconPairCtesSql(0.45) + ",\n" +
      "fzdrop AS (SELECT DISTINCT doc_id FROM fzsc),\n" +
      CurationFunnelSql + ",\n" +
      curationExactDeconSql(
        "AND d.doc_id IN (SELECT doc_id FROM fkeep) " +
          "AND d.doc_id NOT IN (SELECT doc_id FROM fzdrop)") + ",\n" +
      imageGateSplicedTail("(doc_id // 15) % 256") + "\n" +
      CurationSelectTailSql)

  /** q162: the q126 chain with the quality funnel run FIRST — kept1
    * additionally requires fkeep membership (the funnel is per-doc
    * pure, so restricting the decon SURVIVOR set — not the per-doc
    * overlap values — replays the fold exactly).
    */
  private val CurationFunnelChainSql: String =
    curationChainSql(CurationFunnelSql + ",\n" + curationExactDeconSql(
      "AND d.doc_id IN (SELECT doc_id FROM fkeep)"))

  // NOTE: the chain is ALREADY margin-stripped — concatenate the
  // tails without re-applying stripMargin over it (a second pass eats
  // one pipe of every `|| ' ' ||` continuation line).
  private val CurationFullOracleSql: String = materializeCtes(
    CurationFullChainSql + "\n" +
      """SELECT doc_id, lang, CAST(mix_rank AS BIGINT) AS mix_rank
        |FROM r JOIN caps USING (lang)
        |WHERE mix_rank <= k ORDER BY doc_id""".stripMargin)

  /** q162: the funnel-first full recipe's final selection. */
  private val CurationFunnelOracleSql: String = materializeCtes(
    CurationFunnelChainSql + "\n" +
      """SELECT doc_id, lang, CAST(mix_rank AS BIGINT) AS mix_rank
        |FROM r JOIN caps USING (lang)
        |WHERE mix_rank <= k ORDER BY doc_id""".stripMargin)

  /** q182: the q162 funnel-gated chain labeled stage by stage — for
    * every pipeline-input doc (doc_id % 20 <> 0; the %20 == 0 slice
    * is the benchmark, never input) the first stage that dropped it,
    * in the Spark CASE's exact gate order.
    */
  private val DropProvenanceOracleSql: String = materializeCtes(
    CurationFunnelChainSql + ",\n" +
      """fsel AS (SELECT doc_id FROM r JOIN caps USING (lang)
        | WHERE mix_rank <= k)
        |SELECT b.doc_id,
        | CASE
        |  WHEN b.doc_id NOT IN (SELECT doc_id FROM fkeep)
        |    THEN 'a_funnel'
        |  WHEN b.doc_id NOT IN (SELECT doc_id FROM kept1)
        |    THEN 'b_decon'
        |  WHEN b.doc_id IN (SELECT doc_id FROM spandrop) THEN 'c_span'
        |  WHEN b.doc_id IN (SELECT doc_id FROM nddrop) THEN 'd_neardup'
        |  WHEN b.doc_id NOT IN (SELECT doc_id FROM kept3)
        |    THEN 'e_dsir_cut'
        |  WHEN b.doc_id NOT IN (SELECT doc_id FROM fsel)
        |    THEN 'f_mix_cap'
        |  ELSE 'g_selected' END AS stage
        |FROM (SELECT doc_id FROM fbase WHERE doc_id % 20 <> 0) b
        |ORDER BY doc_id""".stripMargin)

  /** q146: the q126 chain with the decon gate swapped to the bloom
    * membership test — same final selection shape.
    */
  private val CurationBloomOracleSql: String = materializeCtes(
    CurationBloomChainSql + "\n" +
      """SELECT doc_id, lang, CAST(mix_rank AS BIGINT) AS mix_rank
        |FROM r JOIN caps USING (lang)
        |WHERE mix_rank <= k ORDER BY doc_id""".stripMargin)

  /** q150: selection (the q126 chain) → split hash ranges (the q113
    * replay over the selected set) → train-split round-robin shards
    * (the q134 replay).
    */
  private val ReleaseManifestOracleSql: String = materializeCtes(
    CurationFullChainSql + ",\n" +
      s"""sel AS (SELECT doc_id, lang FROM r JOIN caps USING (lang)
         | WHERE mix_rank <= k),
         |sp AS (SELECT doc_id, lang,
         |  CASE WHEN ph % 10000 < 8000 THEN 'train'
         |    WHEN ph % 10000 < 9000 THEN 'val'
         |    ELSE 'test' END AS split
         | FROM (SELECT doc_id, lang,
         |   ${polyHashSql("CAST(doc_id AS VARCHAR) || '|split'")} AS ph
         |  FROM sel)),
         |th AS (SELECT doc_id,
         |  ${polyHashSql("CAST(doc_id AS VARCHAR) || '|shuffle'")} AS hh
         | FROM sp WHERE split = 'train'),
         |tr AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY hh, doc_id)
         |  AS pos FROM th)
         |SELECT s.doc_id, s.lang, s.split,
         | CAST(COALESCE((t.pos - 1) % 4, -1) AS BIGINT) AS shard
         |FROM sp s LEFT JOIN tr t USING (doc_id)
         |ORDER BY s.doc_id""".stripMargin)

  /** The q135 funnel report: per-stage counts off the same chain. */
  private val CurationReportOracleSql: String = materializeCtes(
    CurationFullChainSql + "\n" +
      """SELECT stage, CAST(n AS BIGINT) AS n FROM (
        | SELECT 'a_indexed' AS stage, COUNT(*) AS n FROM kept1
        | UNION ALL SELECT 'b_span_drop', COUNT(*) FROM spandrop
        | UNION ALL SELECT 'c_neardup_drop', COUNT(*) FROM nddrop
        | UNION ALL SELECT 'd_gated', COUNT(*) FROM kept2
        | UNION ALL SELECT 'e_dsir_kept', COUNT(*) FROM kept3
        | UNION ALL SELECT 'f_selected', COUNT(*)
        |  FROM r JOIN caps USING (lang) WHERE mix_rank <= k)
        |ORDER BY stage""".stripMargin)

  private val LmQualityOracleSql: String =
      """WITH toks AS (SELECT doc_id,
        |  unnest(string_split_regex(trim(text), '\s+')) AS tok
        | FROM documents),
        |dt AS (SELECT doc_id, tok, COUNT(*) AS k FROM toks
        | GROUP BY doc_id, tok),
        |f AS (SELECT tok, SUM(k) AS c FROM dt GROUP BY tok),
        |tt AS (SELECT SUM(k) AS t_total FROM dt),
        |agg AS (SELECT doc_id, SUM(k) AS n_tokens, SUM(k * c) AS freq_sum
        | FROM dt JOIN f USING (tok) GROUP BY doc_id)
        |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        | CAST(freq_sum AS BIGINT) AS freq_sum,
        | CAST(freq_sum AS DOUBLE) /
        |   CAST(CAST(n_tokens AS BIGINT) * CAST(t_total AS BIGINT)
        |     AS DOUBLE) AS mean_rel_freq,
        | CASE WHEN CAST(freq_sum AS DOUBLE) /
        |   CAST(CAST(n_tokens AS BIGINT) * CAST(t_total AS BIGINT)
        |     AS DOUBLE) >= 0.0334 THEN 'head'
        |  WHEN CAST(freq_sum AS DOUBLE) /
        |   CAST(CAST(n_tokens AS BIGINT) * CAST(t_total AS BIGINT)
        |     AS DOUBLE) >= 0.0333 THEN 'middle'
        |  ELSE 'tail' END AS lm_bucket
        |FROM agg, tt ORDER BY doc_id""".stripMargin

  private val ProfileOracleSql: String = {
      val u = Seq("doc_id", "lang", "source").map(c =>
        s"SELECT '$c' AS \"column\", CAST($c AS VARCHAR) AS v FROM documents")
        .mkString("\nUNION ALL\n")
      s"""WITH u AS ($u),
         |base AS (SELECT "column", COUNT(*) AS n_rows,
         |  SUM(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS n_null,
         |  MIN(v) AS min_v, MAX(v) AS max_v FROM u GROUP BY "column"),
         |hs AS (SELECT DISTINCT "column",
         |   ${polyHashSql("v || '|kmv-salt'")} AS h
         | FROM u WHERE v IS NOT NULL),
         |rk AS (SELECT "column", h, ROW_NUMBER() OVER (
         |   PARTITION BY "column" ORDER BY h) AS rn FROM hs),
         |agg AS (SELECT "column", COUNT(*) AS n_kept, MAX(h) AS kth_min
         | FROM rk WHERE rn <= 64 GROUP BY "column")
         |SELECT b."column", CAST(n_rows AS BIGINT) AS n_rows,
         | CAST(n_null AS BIGINT) AS n_null, min_v, max_v,
         | CAST(COALESCE(CASE WHEN a.n_kept < 64 THEN a.n_kept
         |   ELSE (63 * CAST(2147483647 AS BIGINT)) // a.kth_min END, 0)
         |   AS BIGINT) AS est_distinct
         |FROM base b LEFT JOIN agg a USING ("column")
         |ORDER BY b."column"""".stripMargin
  }

  private val GroupQuantilesOracleSql: String =
    """WITH v AS (SELECT lang AS grp, CAST(len(text) AS BIGINT) AS len
      |  FROM documents WHERE text IS NOT NULL),
      |r AS (SELECT grp, len,
      |  ROW_NUMBER() OVER (PARTITION BY grp ORDER BY len) AS rn,
      |  COUNT(*) OVER (PARTITION BY grp) AS n FROM v),
      |qs AS (SELECT unnest([5000, 9000, 9900]) AS q10k)
      |SELECT grp, CAST(q10k AS BIGINT) AS q10k, len AS value
      |FROM r JOIN qs ON rn = greatest(1, (n * q10k + 9999) // 10000)
      |ORDER BY grp, q10k""".stripMargin

  /** ADC top-20 candidates exactly re-ranked over the true vectors —
    * the q131 refinement replay on top of the shared IVF-PQ chain.
    * Lazy: `ivfPqChainSql` is declared later in this object and a
    * strict val here would interpolate null.
    */
  private lazy val IvfPqRefinedOracleSql: String = materializeCtes {
    def sq(e: String, c: String) =
      s"round(list_sum(list_transform(range(len($e)), " +
        s"j -> ($e[j+1] - $c[j+1]) * ($e[j+1] - $c[j+1]))), 4) + 0.0"
    s"""WITH $ivfPqChainSql,
       |adcr AS (SELECT query_id, neighbor_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY adist, neighbor_id) AS rk FROM scored)
       | WHERE rk <= 20),
       |ref AS (SELECT a.query_id, a.neighbor_id,
       |  ${sq("q.v", "c.v")} AS dist
       | FROM adcr a JOIN ex q ON q.vec_id = a.query_id
       | JOIN ex c ON c.vec_id = a.neighbor_id)
       |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, dist
       |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
       |   ORDER BY dist, neighbor_id) AS rank FROM ref)
       |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
  }

  private val DsirOracleSql: String =
    """WITH toks AS (SELECT doc_id,
      |  unnest(string_split_regex(trim(text), '\s+')) AS tok,
      |  unnest(range(len(string_split_regex(trim(text), '\s+')))) AS i
      | FROM documents),
      |grams AS (
      | SELECT doc_id, tok AS s FROM toks
      | UNION ALL
      | SELECT doc_id,
      |  tok || ' ' || lead(tok, 1) OVER (PARTITION BY doc_id ORDER BY i)
      |    AS s FROM toks),
      |feats AS (SELECT doc_id,
      |  list_reduce(list_prepend(CAST(0 AS BIGINT),
      |    list_transform(string_split(s, ''), c -> CAST(ascii(c) AS BIGINT))),
      |    (h, c) -> (h * 31 + c) % 2147483647) % 65536 AS b
      | FROM grams WHERE s IS NOT NULL),
      |p AS (SELECT b, COUNT(*) AS pc FROM feats GROUP BY b),
      |q AS (SELECT b, COUNT(*) AS qc FROM feats f
      |  JOIN documents d USING (doc_id) WHERE d.lang = 'en' GROUP BY b),
      |bt AS (SELECT p.b,
      |  ((COALESCE(q.qc, 0) + 1) * 1000000) // (p.pc + 1) AS contrib
      | FROM p LEFT JOIN q ON p.b = q.b),
      |agg AS (SELECT doc_id, COUNT(*) AS n_feats, SUM(contrib) AS cs
      | FROM feats JOIN bt USING (b) GROUP BY doc_id)
      |SELECT doc_id, CAST(n_feats AS BIGINT) AS n_feats,
      | CAST(cs AS BIGINT) AS contrib_sum,
      | CAST(cs AS DOUBLE) / CAST(n_feats * 1000000 AS DOUBLE)
      |   AS dsir_score,
      | (CAST(cs AS DOUBLE) / CAST(n_feats * 1000000 AS DOUBLE) >= 0.45)
      |   AS selected
      |FROM agg ORDER BY doc_id""".stripMargin

  /** IVF-PQ replay — shared by q99 (in-memory) and q102 (persisted,
    * two-batch append + partition-pruned query): the q97 machinery
    * plus coarse training, residual derivation, probe selection, and
    * per-probe residual tables. Programmatically unrolled.
    */
  /** The IVF-PQ replay chain (coarse Lloyd's → residuals → m
    * sub-quantizer trainings → codes → per-probe residual distance
    * tables → ADC `scored`), parameterized over the vector SOURCE
    * (`preCtes` + the `ex` body — synthetic embeddings for q99/q102,
    * the hashEmbed chain for q122) and the geometry. Queries are the
    * `vec_id % 50 = 0` rows throughout.
    */
  private def ivfPqChain(preCtes: String, exSql: String, kc: Int, m: Int,
                         sub: Int, k: Int, iters: Int, nProbe: Int,
                         trainPred: Option[String] = None): String = {
      def sq(e: String, c: String) =
        s"round(list_sum(list_transform(range(len($e)), " +
          s"j -> ($e[j+1] - $c[j+1]) * ($e[j+1] - $c[j+1]))), 4) + 0.0"
      def assign(src: String, cents: String, out: String) =
        s"""$out AS (SELECT vec_id, v, cid FROM (
           |  SELECT e.vec_id, e.v, c.cid, row_number() OVER (
           |    PARTITION BY e.vec_id
           |    ORDER BY ${sq("e.v", "c.cv")} ASC, c.cid) AS rn
           |  FROM $src e CROSS JOIN $cents c) WHERE rn = 1)""".stripMargin
      def update(prev: String, asg: String, out: String) =
        s"""${out}n AS (SELECT cid,
           |  list(CAST(s AS DOUBLE) / (n * 10000.0) ORDER BY i) AS cv
           | FROM (SELECT cid, i,
           |    SUM(CAST(floor(x * 10000) AS BIGINT)) AS s, COUNT(*) AS n
           |   FROM (SELECT cid, unnest(v) AS x,
           |      unnest(range(len(v))) AS i FROM $asg)
           |   GROUP BY cid, i) GROUP BY cid),
           |$out AS (SELECT p.cid, COALESCE(nn.cv, p.cv) AS cv
           | FROM $prev p LEFT JOIN ${out}n nn USING (cid))"""
          .stripMargin
      def initCte(src: String, kk: Int, out: String) =
        s"""$out AS (SELECT row_number() OVER (ORDER BY vec_id) - 1
           |  AS cid, v AS cv
           | FROM (SELECT vec_id, v FROM $src ORDER BY vec_id LIMIT $kk))"""
          .stripMargin
      def lloyd(src: String, kk: Int, pfx: String) =
        (initCte(src, kk, s"${pfx}_0") +:
          (1 to iters).flatMap(i => Seq(
            assign(src, s"${pfx}_${i - 1}", s"${pfx}a_$i"),
            update(s"${pfx}_${i - 1}", s"${pfx}a_$i", s"${pfx}_$i"))))
          .mkString(",\n")
      // sample-trained quantizers (q136): Lloyd's sources filter to
      // the deterministic train predicate; assignment/encode stay over
      // everything
      val trainEx = trainPred.fold("ex")(_ => "ext")
      val trainExCte = trainPred
        .map(p => s"ext AS (SELECT * FROM ex WHERE $p),\n").getOrElse("")
      def trainRs(mi: Int) = trainPred.fold(s"rs$mi")(_ => s"rst$mi")
      val subCtes = (0 until m).map { mi =>
        s"rs$mi AS (SELECT vec_id, rv[${mi * sub + 1}:${(mi + 1) * sub}]" +
          s" AS v FROM res)" + trainPred.map(p =>
            s",\nrst$mi AS (SELECT * FROM rs$mi WHERE $p)").getOrElse("")
      }.mkString(",\n")
      val subTrains = (0 until m).map(mi =>
        lloyd(trainRs(mi), k, s"c$mi")).mkString(",\n")
      val finals = (0 until m).map(mi =>
        assign(s"rs$mi", s"c${mi}_$iters", s"af$mi")).mkString(",\n")
      val codesJoin = (1 until m)
        .map(mi => s"JOIN af$mi a$mi USING (vec_id)").mkString(" ")
      val qdCtes = (0 until m).map(mi =>
        s"""qrs$mi AS (SELECT query_id, probe,
           |  qr[${mi * sub + 1}:${(mi + 1) * sub}] AS v FROM qres),
           |qd$mi AS (SELECT q.query_id, q.probe, c.cid,
           |  ${sq("q.v", "c.cv")} AS d
           | FROM qrs$mi q CROSS JOIN c${mi}_$iters c)""".stripMargin)
        .mkString(",\n")
      val qdJoins = (1 until m).map(mi =>
        s"JOIN qd$mi ON qd$mi.query_id = qd0.query_id" +
          s" AND qd$mi.probe = qd0.probe AND qd$mi.cid = cd.k$mi")
        .mkString("\n ")
      val body = s"""${preCtes}ex AS ($exSql),
         |$trainExCte${lloyd(trainEx, kc, "cc")},
         |${assign("ex", s"cc_$iters", "caf")},
         |res AS (SELECT a.vec_id, a.cid AS coarse,
         |  list_transform(range(len(a.v)), j -> a.v[j+1] - c.cv[j+1])
         |    AS rv
         | FROM caf a JOIN cc_$iters c USING (cid)),
         |$subCtes,
         |$subTrains,
         |$finals,
         |codes AS (SELECT a0.vec_id, r.coarse,
         |  ${(0 until m).map(mi => s"a$mi.cid AS k$mi").mkString(", ")}
         | FROM af0 a0 $codesJoin JOIN res r USING (vec_id)),
         |qp AS (SELECT query_id, cid AS probe, cv FROM (
         |  SELECT e.vec_id AS query_id, c.cid, c.cv, row_number() OVER (
         |    PARTITION BY e.vec_id ORDER BY ${sq("e.v", "c.cv")} ASC,
         |      c.cid) AS rn
         |  FROM ex e CROSS JOIN cc_$iters c WHERE e.vec_id % 50 = 0)
         | WHERE rn <= $nProbe),
         |qres AS (SELECT q.query_id, q.probe,
         |  list_transform(range(len(e.v)), j -> e.v[j+1] - q.cv[j+1])
         |    AS qr
         | FROM qp q JOIN ex e ON e.vec_id = q.query_id),
         |$qdCtes,
         |scored AS (SELECT qd0.query_id, cd.vec_id AS neighbor_id,
         |  round(${(0 until m).map(mi => s"qd$mi.d").mkString(" + ")}, 4)
         |    + 0.0 AS adist
         | FROM codes cd
         | JOIN qd0 ON qd0.probe = cd.coarse AND qd0.cid = cd.k0
         | $qdJoins
         | WHERE qd0.query_id <> cd.vec_id)""".stripMargin
      body
  }

  private def ivfPqTopKSql(chain: String): String =
    s"""WITH $chain
       |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, adist
       |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
       |   ORDER BY adist, neighbor_id) AS rank FROM scored)
       |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  private val ivfPqChainSql: String = ivfPqChain("",
    "SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings",
    kc = 4, m = 4, sub = 16, k = 8, iters = 2, nProbe = 2)

  // materializeCtes on every IVF-PQ replay: same CTE-inlining blowup
  // risk as q122 (the chain references ex/res/centroid CTEs from many
  // downstream CTEs), just with a cheaper source — bound them all
  private val ivfPqOracleSql: String =
    materializeCtes(ivfPqTopKSql(ivfPqChainSql))

  /** q136: quantizers trained on the vec_id%2 sample, everything
    * encoded and searched.
    */
  private val IvfPqSampledOracleSql: String = materializeCtes(
    ivfPqTopKSql(ivfPqChain("",
      "SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings",
      kc = 4, m = 4, sub = 16, k = 8, iters = 2, nProbe = 2,
      trainPred = Some("vec_id % 2 = 0"))))

  /** Force every CTE of a generated chain to MATERIALIZE (DuckDB
    * `AS MATERIALIZED`). The IVF-PQ replay references `ex` (and the
    * Lloyd's intermediates) from a dozen downstream CTEs; DuckDB's
    * default CTE INLINING duplicates the whole upstream subtree per
    * reference, and with the q122 text→embed chain as the source the
    * planner's expanded tree OOM-ed a 124 GiB gate box (round 11's
    * only non-green row — oracle-side, reproduced standalone).
    * Materialization evaluates each CTE once into a temp table, so
    * oracle memory is bounded by the actual intermediate sizes
    * (corpus-token-count rows at worst). Results are unchanged by
    * construction. The builders only ever emit `AS (SELECT` at CTE
    * heads (subqueries are `FROM (SELECT`, scalar subqueries
    * `(SELECT MAX`), so the textual rewrite is exact.
    */
  private def materializeCtes(sql: String): String = {
    // Guard the textual rewrite: every occurrence of the token must be
    // a CTE head, i.e. preceded by an identifier that follows either
    // `WITH ` / `with ` or a CTE-separating `, ` (possibly with
    // newlines). Builders emitting the token anywhere else (a column
    // alias `x AS (SELECT...)` is not valid SQL, but a future
    // generator could drift) must fail HERE, loudly, not produce an
    // oracle that silently materializes the wrong nodes.
    val token = " AS (SELECT"
    val occurrences = sql.sliding(token.length).count(_ == token)
    // a head is `name` or `name(cols)` (recursive CTEs), preceded by
    // `WITH [RECURSIVE] ` for the first or `), ` for continuations;
    // DuckDB accepts AS MATERIALIZED on recursive CTEs too (verified)
    val heads =
      ("""(?s)(?:\bWITH\s+(?:RECURSIVE\s+)?|\),\s*)""" +
        """([A-Za-z_][A-Za-z0-9_]*)(?:\([^()]*\))?\s+AS \(SELECT""")
        .r.findAllMatchIn(sql).size
    // first CTE after WITH + each `), name AS (SELECT` continuation
    require(heads == occurrences,
      s"materializeCtes: $occurrences ' AS (SELECT' tokens but only " +
        s"$heads look like CTE heads — generated SQL drifted; fix the " +
        "generator or this rewrite before trusting the oracle")
    sql.replace(token, " AS MATERIALIZED (SELECT")
  }

  /** q122: the full retrieval vertical from RAW TEXT — the q121 embed
    * chain as the `ex` source of the IVF-PQ replay (dim 32 → sub 8).
    * Zero vectors (null-text / sign-cancelled docs) stay in: IVF-PQ is
    * an L2 structure and [[graft.operators.Embed.hashEmbed]] emits one
    * row per doc by contract.
    */
  private val TextRetrievalOracleSql: String = materializeCtes {
    val embedPre =
      s"""toksq AS (SELECT doc_id,
         |   unnest(string_split_regex(trim(text), '\\s+')) AS tok
         | FROM documents),
         |fq AS (SELECT doc_id,
         |   ${polyHashSql("tok")} % 32 AS b,
         |   CASE WHEN ${polyHashSql("tok || '|sign'")} % 2 = 0
         |     THEN 1 ELSE -1 END AS sgn
         | FROM toksq),
         |aggq AS (SELECT doc_id, b, SUM(sgn) AS c FROM fq
         | GROUP BY doc_id, b),
         |denseq AS (SELECT d.doc_id, i.b, COALESCE(a.c, 0) AS c
         | FROM (SELECT DISTINCT doc_id FROM documents) d
         | CROSS JOIN (SELECT unnest(range(32)) AS b) i
         | LEFT JOIN aggq a ON a.doc_id = d.doc_id AND a.b = i.b),
         |""".stripMargin
    ivfPqTopKSql(ivfPqChain(embedPre,
      "SELECT doc_id AS vec_id, list(CAST(c AS DOUBLE) ORDER BY b) AS v" +
        " FROM denseq GROUP BY doc_id",
      kc = 4, m = 4, sub = 8, k = 8, iters = 2, nProbe = 2))
  }

  /** DuckDB replay of the bitemporal belief semantics: fold batches
    * 1..cutoff in valid-time order per cutoff — shared by q43 (in-memory
    * fold) and q70 (persisted StarPipeline fold).
    */
  private val BitemporalBeliefSql =
    s"""WITH e AS ($EventsUsSql),
       |m AS (SELECT user_id, event_id, event_type AS state, value, ts_us,
       |  (event_id % 4) + 1 AS batch FROM e),
       |cut AS (SELECT UNNEST([1, 2, 3, 4]) AS cutoff),
       |x AS (SELECT c.cutoff, m.* FROM cut c JOIN m ON m.batch <= c.cutoff),
       |d AS (SELECT cutoff, user_id, event_id, state, value, ts_us,
       |  lag(state) OVER w AS pt, lag(value) OVER w AS pv
       | FROM x WINDOW w AS (PARTITION BY cutoff, user_id ORDER BY ts_us, event_id)),
       |k AS (SELECT cutoff, user_id, event_id, state, value, ts_us FROM d
       | WHERE pt IS NULL OR state IS DISTINCT FROM pt OR value IS DISTINCT FROM pv),
       |f AS (SELECT *, lead(ts_us) OVER
       |  (PARTITION BY cutoff, user_id ORDER BY ts_us, event_id) AS valid_until_us
       | FROM k)
       |SELECT CAST(cutoff AS BIGINT) AS cutoff, user_id, event_id, state,
       | value, ts_us AS valid_from_us, valid_until_us
       |FROM f ORDER BY cutoff, user_id, valid_from_us, event_id""".stripMargin

  /** Shared by q156 (one-shot) and q175 (persisted token-sum
    * index folds): per-source token sums, floor-sqrt weights,
    * integer caps, hash-rank selection.
    */
  private val TemperatureMixOracleSql: String =
      s"""WITH tk AS (SELECT source,
         |  SUM(len(string_split_regex(trim(text), '\\s+'))) AS t
         | FROM documents GROUP BY source),
         |w AS (SELECT source,
         |  CAST(floor(sqrt(CAST(t AS DOUBLE))) AS BIGINT) AS w FROM tk),
         |sw AS (SELECT SUM(w) AS s FROM w),
         |caps AS (SELECT source, (120 * w) // s AS k FROM w, sw),
         |r AS (SELECT doc_id, source,
         |  ROW_NUMBER() OVER (PARTITION BY source ORDER BY
         |    ${polyHashSql("CAST(doc_id AS VARCHAR) || '|' || source")},
         |    doc_id) AS mix_rank
         | FROM documents)
         |SELECT doc_id, source, CAST(mix_rank AS BIGINT) AS mix_rank
         |FROM r JOIN caps USING (source)
         |WHERE mix_rank <= k ORDER BY doc_id""".stripMargin

  def oracleSql: Map[String, String] = Map(

    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
        | COUNT(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q02_stream_minmax" ->
      s"""WITH e AS ($EventsUsSql)
         |SELECT user_id, event_type, COUNT(*) AS n,
         | MIN(ts_us) AS first_us, MAX(ts_us) AS last_us,
         | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         |FROM e GROUP BY user_id, event_type
         |ORDER BY user_id, event_type""".stripMargin,

    "q03_stream_inventory" ->
      """SELECT DISTINCT e.user_id, e.event_type, c.c_mktsegment
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |ORDER BY user_id, event_type""".stripMargin,

    "q04_gap_detect" ->
      s"""WITH e AS ($EventsUsSql),
         |g AS (SELECT user_id, event_id, ts_us,
         |  ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS gap_us
         | FROM e)
         |SELECT user_id, CAST(event_id AS BIGINT) AS event_id, ts_us, gap_us
         |FROM g WHERE gap_us > 7200000000
         |ORDER BY user_id, event_id""".stripMargin,

    "q05_sessionize" ->
      s"""WITH e AS ($EventsUsSql),
         |g AS (SELECT user_id, event_id, ts_us,
         |  CASE WHEN lag(ts_us) OVER w IS NULL
         |         OR ts_us - lag(ts_us) OVER w > 1800000000
         |       THEN 1 ELSE 0 END AS is_new
         | FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
         |sx AS (SELECT user_id, event_id, ts_us,
         |  CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
         |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
         | FROM g)
         |SELECT user_id, session_id, COUNT(*) AS n_events,
         | MIN(ts_us) AS session_start_us, MAX(ts_us) AS session_end_us
         |FROM sx GROUP BY user_id, session_id
         |ORDER BY user_id, session_id""".stripMargin,

    "q06_live_state" ->
      s"""WITH e AS ($EventsUsSql),
         |r AS (SELECT *, row_number() OVER
         |  (PARTITION BY user_id ORDER BY ts_us DESC, event_id DESC) AS rn
         | FROM e)
         |SELECT user_id, event_id AS last_event_id, event_type AS state,
         | value, ts_us AS valid_from_us
         |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin,

    "q07_scd2_history" ->
      s"""WITH e AS ($EventsUsSql)
         |SELECT user_id, event_id, event_type AS state,
         | ts_us AS valid_from_us,
         | lead(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
         |   AS valid_until_us
         |FROM e ORDER BY user_id, valid_from_us, event_id""".stripMargin,

    "q08_time_travel" ->
      s"""WITH e AS ($EventsUsSql),
         |r AS (SELECT *, row_number() OVER
         |  (PARTITION BY user_id ORDER BY ts_us DESC, event_id DESC) AS rn
         | FROM e WHERE ts_us <= 1704412800000000)
         |SELECT user_id, event_id, event_type AS state, ts_us AS valid_from_us
         |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin,

    "q09_interval_join" ->
      s"""WITH e AS ($EventsUsSql),
         |p AS (SELECT user_id, event_id AS purchase_id, ts_us AS p_ts_us
         |  FROM e WHERE event_type = 'purchase'),
         |c AS (SELECT user_id, event_id AS click_id, ts_us AS c_ts_us
         |  FROM e WHERE event_type = 'click')
         |SELECT p.purchase_id, c.click_id, p.p_ts_us - c.c_ts_us AS lead_us
         |FROM p JOIN c ON p.user_id = c.user_id
         | AND c.c_ts_us >= p.p_ts_us - 3600000000 AND c.c_ts_us < p.p_ts_us
         |ORDER BY purchase_id, click_id""".stripMargin,

    "q10_disjunctive_lookup" ->
      """SELECT DISTINCT o.o_orderkey, c.c_custkey
        |FROM orders o JOIN customer c
        | ON o.o_custkey = c.c_custkey OR o.o_custkey = c.c_nationkey
        |ORDER BY o_orderkey, c_custkey""".stripMargin,

    "q11_anti_join" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey
        |    AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
        |ORDER BY c_custkey""".stripMargin,

    "q12_semi_join" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin,

    "q13_union_dedup" ->
      """SELECT c_custkey, c_name FROM customer WHERE c_acctbal > 9000
        |UNION
        |SELECT c_custkey, c_name FROM customer WHERE c_mktsegment = 'BUILDING'
        |ORDER BY c_custkey""".stripMargin,

    "q14_posexplode_ts" ->
      """WITH x AS (SELECT vec_id,
        |  UNNEST(range(len(embedding))) AS pos,
        |  UNNEST(CAST(embedding AS DOUBLE[])) AS val
        | FROM embeddings WHERE vec_id < 8)
        |SELECT vec_id, CAST(pos AS BIGINT) AS pos, CAST(val AS DOUBLE) AS val,
        | 1704067200000000 + (CAST(pos AS BIGINT) * 1000000) // 300 AS sample_ts_us
        |FROM x ORDER BY vec_id, pos""".stripMargin,

    "q15_waveform_sine" ->
      """SELECT CAST(k AS BIGINT) AS k,
        | round(999.0 * sin(2.0 * pi() * 5.0 * CAST(k AS DOUBLE) / 300.0), 6) + 0.0 AS sample
        |FROM range(0, 3000) t(k) ORDER BY k""".stripMargin,

    "q16_tristate_fold" ->
      s"""WITH e AS ($EventsUsSql),
         |f AS (SELECT *, row_number() OVER
         |  (PARTITION BY user_id ORDER BY ts_us DESC, event_id DESC) AS rn
         | FROM e WHERE event_type IN ('signup', 'error'))
         |SELECT user_id,
         | CASE WHEN event_type = 'signup' THEN value ELSE NULL END AS merged_value,
         | event_type AS last_action
         |FROM f WHERE rn = 1 ORDER BY user_id""".stripMargin,

    "q17_upsert_kernel" ->
      s"""WITH e AS ($EventsUsSql),
         |d AS (SELECT user_id, event_id, event_type AS state, value, ts_us,
         |  lag(event_type) OVER w AS pt, lag(value) OVER w AS pv
         | FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
         |k AS (SELECT user_id, event_id, state, value, ts_us FROM d
         | WHERE pt IS NULL OR state IS DISTINCT FROM pt OR value IS DISTINCT FROM pv),
         |f AS (SELECT *, lead(ts_us) OVER
         |  (PARTITION BY user_id ORDER BY ts_us, event_id) AS valid_until_us
         | FROM k)
         |SELECT user_id, event_id, state, value, ts_us AS valid_from_us
         |FROM f WHERE valid_until_us IS NULL ORDER BY user_id""".stripMargin,

    "q18_upsert_audit" ->
      s"""WITH e AS ($EventsUsSql),
         |d AS (SELECT user_id, event_id, event_type AS state, value, ts_us,
         |  lag(event_type) OVER w AS pt, lag(value) OVER w AS pv
         | FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
         |k AS (SELECT user_id, event_id, state, value, ts_us FROM d
         | WHERE pt IS NULL OR state IS DISTINCT FROM pt OR value IS DISTINCT FROM pv),
         |f AS (SELECT *, lead(ts_us) OVER
         |  (PARTITION BY user_id ORDER BY ts_us, event_id) AS valid_until_us
         | FROM k)
         |SELECT user_id, event_id, state, ts_us AS valid_from_us, valid_until_us
         |FROM f WHERE valid_until_us IS NOT NULL
         |ORDER BY user_id, valid_from_us, event_id""".stripMargin,

    "q19_dedup_exact" ->
      """SELECT CAST(MIN(doc_id) AS BIGINT) AS keep_id, COUNT(*) AS n_dups
        |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin,

    // Persisted exact-dedup fold: min composes and counts add, so the
    // two-batch fold replays as the one-shot q19 VERBATIM.
    "q130_exact_dedup_incremental" ->
      """SELECT CAST(MIN(doc_id) AS BIGINT) AS keep_id, COUNT(*) AS n_dups
        |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin,

    "q20_ngram_jaccard" ->
      """WITH toks AS (
        | SELECT doc_id,
        |  UNNEST(string_split_regex(trim(text), '\s+')) AS tok,
        |  UNNEST(range(len(string_split_regex(trim(text), '\s+')))) AS pos
        | FROM documents WHERE doc_id < 400),
        |big AS (SELECT DISTINCT a.doc_id, a.tok || ' ' || b.tok AS sh
        | FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
        |sz AS (SELECT doc_id, COUNT(*) AS n FROM big GROUP BY doc_id),
        |inter AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS shared
        | FROM big x JOIN big y ON x.sh = y.sh AND x.doc_id < y.doc_id
        | GROUP BY x.doc_id, y.doc_id)
        |SELECT i.doc_a, i.doc_b, i.shared,
        | CAST(i.shared AS DOUBLE) / (sa.n + sb.n - i.shared) AS jaccard
        |FROM inter i
        | JOIN sz sa ON sa.doc_id = i.doc_a
        | JOIN sz sb ON sb.doc_id = i.doc_b
        |WHERE CAST(i.shared AS DOUBLE) / (sa.n + sb.n - i.shared) >= 0.3
        |ORDER BY doc_a, doc_b""".stripMargin,

    "q23_ann_brute" ->
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        |  FROM embeddings WHERE vec_id < 8),
        |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
        |  FROM embeddings),
        |sx AS (SELECT query_id, neighbor_id,
        |  round(list_cosine_similarity(qv, cv), 4) + 0.0 AS sim
        | FROM q, c WHERE query_id <> neighbor_id),
        |r AS (SELECT query_id, neighbor_id, sim, row_number() OVER
        |  (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
        | FROM sx)
        |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, sim
        |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    "q24_ann_ivf" ->
      """WITH q AS (SELECT vec_id AS query_id, label AS ql,
        |  CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id < 8),
        |c AS (SELECT vec_id AS neighbor_id, label AS cl,
        |  CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
        |sx AS (SELECT query_id, neighbor_id,
        |  round(list_cosine_similarity(qv, cv), 4) + 0.0 AS sim
        | FROM q JOIN c ON ql = cl AND query_id <> neighbor_id),
        |r AS (SELECT query_id, neighbor_id, sim, row_number() OVER
        |  (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
        | FROM sx)
        |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, sim
        |FROM r WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,

    // MinHash replay: the portable charPolyHash + the same (a,b) affine
    // permutation constants (minhashPerms is the single source of truth
    // for both engines) make every signature value exact integer
    // arithmetic DuckDB reproduces bit-for-bit.
    "q21_minhash_lsh" ->
      ("WITH " + minhashLshChainSql(capped = true) + "\n" +
        """SELECT doc_a, doc_b, est_jaccard FROM sc WHERE est_jaccard >= 0.125
          |ORDER BY est_jaccard DESC, doc_a, doc_b LIMIT 500"""
          .stripMargin),

    // Same LSH replay as q21 but uncapped over the full corpus: the
    // batch-incremental fold must reproduce the from-scratch pair set.
    "q54_incremental_dedup" ->
      ("WITH " + minhashLshChainSql(capped = false) + "\n" +
        """SELECT doc_a, doc_b, est_jaccard FROM sc WHERE est_jaccard >= 0.125
          |ORDER BY est_jaccard DESC, doc_a, doc_b LIMIT 500"""
          .stripMargin),

    // SimHash replay: 31-bit portable signature, per-bit vote sums.
    "q22_simhash" ->
      """WITH tk AS (SELECT doc_id,
        |  unnest(string_split_regex(trim(text), '\s+')) AS t FROM documents),
        |td AS (SELECT DISTINCT doc_id, t FROM tk),
        |hs AS (SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(string_split(t, ''), c -> CAST(ascii(c) AS BIGINT))),
        |    (h, c) -> (h * 31 + c) % 2147483647) AS h FROM td),
        |bits AS (SELECT doc_id, b,
        |  SUM(CASE WHEN ((h >> b) & 1) = 1 THEN 1 ELSE -1 END) AS v
        | FROM hs CROSS JOIN (SELECT unnest(range(31)) AS b) GROUP BY 1, 2)
        |SELECT doc_id, CAST(SUM(CASE WHEN v > 0 THEN CAST(1 AS BIGINT) << b
        |  ELSE 0 END) AS BIGINT) AS simhash
        |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Sign-plane LSH replay: ±1 plane weights (lshSignPlanes, shared
    // constants) over floor-quantized integer coordinates — bucket bits
    // are order-independent integer sums in both engines.
    "q33_ann_lsh" -> {
      val planesSql = Ann.lshSignPlanes(64, 8, 42L)
        .map(_.mkString("[", ", ", "]")).mkString("[", ", ", "]")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings),
         |vq AS (SELECT vec_id, list_transform(v,
         |  x -> CAST(floor(x * 1048576) AS BIGINT)) AS q FROM e),
         |co AS (SELECT vec_id, unnest(q) AS x, unnest(range(64)) AS i FROM vq),
         |pl AS (SELECT unnest($planesSql) AS w, unnest(range(8)) AS pi),
         |pw AS (SELECT pi, unnest(w) AS wt, unnest(range(64)) AS i FROM pl),
         |proj AS (SELECT co.vec_id, pw.pi, SUM(co.x * pw.wt) AS p
         |  FROM co JOIN pw ON co.i = pw.i GROUP BY 1, 2),
         |bk AS (SELECT vec_id, CAST(SUM(CASE WHEN p >= 0
         |    THEN CAST(1 AS BIGINT) << pi ELSE 0 END) AS BIGINT) AS b
         |  FROM proj GROUP BY 1),
         |q AS (SELECT e.vec_id AS query_id, e.v AS qv, bk.b AS qb
         |  FROM e JOIN bk ON bk.vec_id = e.vec_id WHERE e.vec_id < 8),
         |c AS (SELECT e.vec_id AS neighbor_id, e.v AS cv, bk.b AS cb
         |  FROM e JOIN bk ON bk.vec_id = e.vec_id),
         |sx AS (SELECT query_id, neighbor_id,
         |  round(list_cosine_similarity(qv, cv), 4) + 0.0 AS sim
         | FROM q JOIN c ON qb = cb AND query_id <> neighbor_id),
         |r AS (SELECT query_id, neighbor_id, sim, row_number() OVER
         |  (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
         | FROM sx)
         |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, sim
         |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
    },

    "q25_text_stats" ->
      """WITH tk AS (SELECT doc_id,
        |  UNNEST(string_split_regex(trim(text), '\s+')) AS tok
        | FROM documents)
        |SELECT doc_id, COUNT(*) AS n_tokens,
        | COUNT(DISTINCT tok) AS n_distinct,
        | CAST(SUM(CASE WHEN tok IN ('the','a','of','and','to','in')
        |   THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS stop_ratio,
        | CAST(CAST(SUM(len(tok)) AS BIGINT) AS DOUBLE) / COUNT(*) AS avg_tok_len,
        | (COUNT(*) >= 5 AND COUNT(*) <= 100000 AND
        |  CAST(SUM(CASE WHEN tok IN ('the','a','of','and','to','in')
        |    THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) < 0.5) AS quality
        |FROM tk GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q26_lang_profile" ->
      """SELECT lang, source, COUNT(*) AS n_docs,
        | CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        | CAST(SUM(len(string_split_regex(trim(text), '\s+'))) AS BIGINT)
        |   AS sum_tokens,
        | CAST(CAST(SUM(n_chars) AS BIGINT) AS DOUBLE) / COUNT(*) AS avg_chars
        |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin,

    "q27_fingerprint" ->
      """WITH tk AS (SELECT doc_id,
        |  UNNEST(string_split_regex(trim(text), '\s+')) AS tok,
        |  UNNEST(range(len(string_split_regex(trim(text), '\s+')))) AS pos
        | FROM documents)
        |SELECT doc_id,
        | CAST(SUM((pos + 1) * (ascii(tok) * 31 + len(tok))) AS BIGINT) AS fp
        |FROM tk GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q28_top_customers" ->
      """SELECT o_custkey,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        | COUNT(*) AS n_orders
        |FROM orders GROUP BY o_custkey
        |ORDER BY revenue DESC, o_custkey LIMIT 10""".stripMargin,

    "q29_enrich_extract" ->
      """SELECT event_id,
        | CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) AS k,
        | concat_ws('^', event_type, CAST(user_id AS VARCHAR),
        |   lpad(CAST(event_id AS VARCHAR), 10, '0')) AS loc
        |FROM events WHERE event_type = 'click' ORDER BY event_id""".stripMargin,

    "q30_identity_merge" ->
      """SELECT c_custkey AS mrn,
        | MIN(c_custkey) OVER (PARTITION BY c_nationkey) AS live_mrn,
        | CAST(MAX(CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END)
        |   OVER (PARTITION BY c_nationkey) AS BIGINT) AS opt_out
        |FROM customer ORDER BY mrn""".stripMargin,

    "q31_asof_join" ->
      s"""WITH e AS ($EventsUsSql),
         |p AS (SELECT user_id, event_id, ts_us FROM e WHERE event_type = 'purchase'),
         |c AS (SELECT user_id, event_id, ts_us FROM e WHERE event_type = 'click'),
         |j AS (SELECT p.event_id AS purchase_id, c.event_id AS last_click_id,
         |  c.ts_us AS last_click_ts_us,
         |  row_number() OVER (PARTITION BY p.event_id
         |    ORDER BY c.ts_us DESC NULLS LAST, c.event_id DESC NULLS LAST) AS rn
         | FROM p LEFT JOIN c ON p.user_id = c.user_id AND c.ts_us <= p.ts_us)
         |SELECT purchase_id, last_click_id, last_click_ts_us
         |FROM j WHERE rn = 1 ORDER BY purchase_id""".stripMargin,

    "q32_media_meta" ->
      """WITH m AS (SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 0 THEN 'image'
        |       WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS modality,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
        | FROM documents)
        |SELECT doc_id, modality, n_bytes,
        | CAST(16 + n_bytes % 64 AS BIGINT) AS width,
        | CAST(16 + (n_bytes // 64) % 64 AS BIGINT) AS height,
        | CAST(CASE WHEN modality = 'video' THEN 1 + n_bytes % 30 ELSE 1 END
        |   AS BIGINT) AS n_frames
        |FROM m ORDER BY doc_id""".stripMargin,

    "q55_frame_sample" ->
      """WITH m AS (SELECT doc_id AS media_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n
        | FROM documents WHERE doc_id % 3 = 2),
        |f AS (SELECT media_id, 1 + n % 30 AS frames FROM m)
        |SELECT CAST(media_id AS BIGINT) AS media_id,
        | CAST(unnest(range(0, frames, 7)) AS BIGINT) AS frame_idx
        |FROM f ORDER BY media_id, frame_idx""".stripMargin,

    "q83_imageio_decode" ->
      s"""WITH e AS ($EventsUsSql)
         |SELECT CAST(event_id AS BIGINT) AS media_id,
         | CAST(8 + event_id % 32 AS BIGINT) AS width,
         | CAST(8 + event_id % 7 AS BIGINT) AS height,
         | CAST((event_id % 256) // 32 AS BIGINT) AS top_bin
         |FROM e WHERE event_id % 50 = 0 ORDER BY media_id""".stripMargin,

    // WAV decode replay: constant-amplitude PCM — every sample lands
    // in one histogram bin, so top_bin = (amp+32768) // 8192 with
    // amp = (event_id·37) % 65536 − 32768.
    "q123_wav_decode" ->
      s"""WITH e AS ($EventsUsSql)
         |SELECT CAST(event_id AS BIGINT) AS media_id,
         | CAST(4000 + (event_id % 4) * 2000 AS BIGINT) AS sample_rate,
         | CAST(50 + event_id % 100 AS BIGINT) AS n_samples,
         | CAST(((event_id * 37) % 65536) // 8192 AS BIGINT) AS top_bin
         |FROM e WHERE event_id % 50 = 1 ORDER BY media_id""".stripMargin,

    // Decontamination replay: the same trigram shingles + poly-hash as
    // the Spark side (q21's hs CTE pattern), benchmark = doc_id%20=0.
    "q84_decontaminate" ->
      """WITH toks AS (SELECT doc_id,
        |  unnest(string_split_regex(trim(text), '\s+')) AS tok,
        |  unnest(range(len(string_split_regex(trim(text), '\s+')))) AS i
        | FROM documents),
        |shr AS (SELECT doc_id,
        |  tok || ' ' || lead(tok, 1) OVER (PARTITION BY doc_id ORDER BY i)
        |      || ' ' || lead(tok, 2) OVER (PARTITION BY doc_id ORDER BY i)
        |    AS s FROM toks),
        |sh AS (SELECT DISTINCT doc_id, s FROM shr WHERE s IS NOT NULL),
        |hs AS (SELECT DISTINCT doc_id, h FROM (
        |  SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(string_split(s, ''), c -> CAST(ascii(c) AS BIGINT))),
        |    (h, c) -> (h * 31 + c) % 2147483647) AS h FROM sh)),
        |bench AS (SELECT DISTINCT h FROM hs WHERE doc_id % 20 = 0),
        |agg AS (SELECT t.doc_id, COUNT(*) AS n_shingles,
        |   SUM(CASE WHEN b.h IS NOT NULL THEN 1 ELSE 0 END) AS n_overlap
        |  FROM hs t LEFT JOIN bench b ON t.h = b.h
        |  WHERE t.doc_id % 20 <> 0 GROUP BY t.doc_id)
        |SELECT d.doc_id,
        | CAST(COALESCE(a.n_shingles, 0) AS BIGINT) AS n_shingles,
        | CAST(COALESCE(a.n_overlap, 0) AS BIGINT) AS n_overlap,
        | CASE WHEN COALESCE(a.n_shingles, 0) > 0
        |   THEN CAST(a.n_overlap AS DOUBLE) / a.n_shingles ELSE 0.0 END
        |   AS overlap_frac,
        | (CASE WHEN COALESCE(a.n_shingles, 0) > 0
        |   THEN CAST(a.n_overlap AS DOUBLE) / a.n_shingles ELSE 0.0 END
        |   >= 0.05) AS contaminated
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 20 <> 0) d
        |LEFT JOIN agg a USING (doc_id) ORDER BY doc_id""".stripMargin,

    // Incremental decontamination: per-doc results are independent of
    // batching, so the two-fold union replays as the ONE-SHOT check —
    // the q84 SQL verbatim. A batching-dependent divergence (e.g. state
    // leaking between folds) would hash-mismatch here.
    "q91_decontaminate_incr" ->
      """WITH toks AS (SELECT doc_id,
        |  unnest(string_split_regex(trim(text), '\s+')) AS tok,
        |  unnest(range(len(string_split_regex(trim(text), '\s+')))) AS i
        | FROM documents),
        |shr AS (SELECT doc_id,
        |  tok || ' ' || lead(tok, 1) OVER (PARTITION BY doc_id ORDER BY i)
        |      || ' ' || lead(tok, 2) OVER (PARTITION BY doc_id ORDER BY i)
        |    AS s FROM toks),
        |sh AS (SELECT DISTINCT doc_id, s FROM shr WHERE s IS NOT NULL),
        |hs AS (SELECT DISTINCT doc_id, h FROM (
        |  SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(string_split(s, ''), c -> CAST(ascii(c) AS BIGINT))),
        |    (h, c) -> (h * 31 + c) % 2147483647) AS h FROM sh)),
        |bench AS (SELECT DISTINCT h FROM hs WHERE doc_id % 20 = 0),
        |agg AS (SELECT t.doc_id, COUNT(*) AS n_shingles,
        |   SUM(CASE WHEN b.h IS NOT NULL THEN 1 ELSE 0 END) AS n_overlap
        |  FROM hs t LEFT JOIN bench b ON t.h = b.h
        |  WHERE t.doc_id % 20 <> 0 GROUP BY t.doc_id)
        |SELECT d.doc_id,
        | CAST(COALESCE(a.n_shingles, 0) AS BIGINT) AS n_shingles,
        | CAST(COALESCE(a.n_overlap, 0) AS BIGINT) AS n_overlap,
        | CASE WHEN COALESCE(a.n_shingles, 0) > 0
        |   THEN CAST(a.n_overlap AS DOUBLE) / a.n_shingles ELSE 0.0 END
        |   AS overlap_frac,
        | (CASE WHEN COALESCE(a.n_shingles, 0) > 0
        |   THEN CAST(a.n_overlap AS DOUBLE) / a.n_shingles ELSE 0.0 END
        |   >= 0.05) AS contaminated
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 20 <> 0) d
        |LEFT JOIN agg a USING (doc_id) ORDER BY doc_id""".stripMargin,

    // Stratified-sample replay: poly-hash of (doc_id || '|' || lang).
    "q85_stratified_sample" ->
      """WITH k AS (SELECT doc_id, lang, source,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(
        |      string_split(CAST(doc_id AS VARCHAR) || '|' || lang, ''),
        |      c -> CAST(ascii(c) AS BIGINT))),
        |    (h, c) -> (h * 31 + c) % 2147483647) % 10000 AS slot
        | FROM documents)
        |SELECT doc_id, lang, source FROM k
        |WHERE slot < (CASE lang WHEN 'en' THEN 9000 WHEN 'de' THEN 5000
        |  WHEN 'zh' THEN 2500 ELSE 1000 END)
        |ORDER BY doc_id""".stripMargin,

    // PII-scrub replay: identical RE2/Java-compatible patterns over the
    // same deterministically salted text.
    "q86_pii_scrub" ->
      """WITH p AS (SELECT doc_id,
        |  text || ' user' || CAST(doc_id AS VARCHAR) || '@example.com +4420'
        |   || lpad(CAST(doc_id % 100000000 AS VARCHAR), 8, '0')
        |   || ' 10.' || CAST(doc_id % 200 + 1 AS VARCHAR)
        |   || '.' || CAST((doc_id * 7) % 200 + 1 AS VARCHAR)
        |   || '.' || CAST((doc_id * 13) % 200 + 1 AS VARCHAR) AS t
        | FROM documents)
        |SELECT doc_id,
        | CAST(len(regexp_extract_all(t,
        |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT)
        |   AS n_emails,
        | CAST(len(regexp_extract_all(t,
        |   '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b')) AS INT) AS n_ips,
        | CAST(len(regexp_extract_all(t, '\+[0-9]{8,15}')) AS INT)
        |   AS n_phones,
        | regexp_replace(regexp_replace(regexp_replace(t,
        |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |   '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g'),
        |   '\+[0-9]{8,15}', '<PHONE>', 'g') AS redacted
        |FROM p ORDER BY doc_id""".stripMargin,

    // Sequence-packing replay: exact integer cumulative sums.
    "q87_pack_sequences" ->
      """WITH n AS (SELECT source AS stream, doc_id,
        |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
        |    AS n_tokens
        | FROM documents),
        |c AS (SELECT stream, doc_id, n_tokens,
        |  CAST(SUM(n_tokens) OVER (PARTITION BY stream ORDER BY doc_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS end_tok FROM n)
        |SELECT stream, doc_id, n_tokens, end_tok,
        | end_tok - n_tokens AS start_tok,
        | CAST((end_tok - n_tokens) // 2048 AS BIGINT) AS first_chunk,
        | CAST((end_tok - 1) // 2048 AS BIGINT) AS last_chunk
        |FROM c ORDER BY stream, doc_id""".stripMargin,

    // Composed prep replay: the q84 decontamination CTEs feed the q85
    // sample slot, the q86 salt+scrub, then the q87 cumsum layout.
    "q89_prep_pipeline2" ->
      """WITH toks AS (SELECT doc_id,
        |  unnest(string_split_regex(trim(text), '\s+')) AS tok,
        |  unnest(range(len(string_split_regex(trim(text), '\s+')))) AS i
        | FROM documents),
        |shr AS (SELECT doc_id,
        |  tok || ' ' || lead(tok, 1) OVER (PARTITION BY doc_id ORDER BY i)
        |      || ' ' || lead(tok, 2) OVER (PARTITION BY doc_id ORDER BY i)
        |    AS s FROM toks),
        |sh AS (SELECT DISTINCT doc_id, s FROM shr WHERE s IS NOT NULL),
        |hs AS (SELECT DISTINCT doc_id, h FROM (
        |  SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(string_split(s, ''), c -> CAST(ascii(c) AS BIGINT))),
        |    (h, c) -> (h * 31 + c) % 2147483647) AS h FROM sh)),
        |bench AS (SELECT DISTINCT h FROM hs WHERE doc_id % 20 = 0),
        |agg AS (SELECT t.doc_id, COUNT(*) AS n_sh,
        |   SUM(CASE WHEN b.h IS NOT NULL THEN 1 ELSE 0 END) AS n_ov
        |  FROM hs t LEFT JOIN bench b ON t.h = b.h
        |  WHERE t.doc_id % 20 <> 0 GROUP BY t.doc_id),
        |keep AS (SELECT d.doc_id FROM
        |  (SELECT doc_id FROM documents WHERE doc_id % 20 <> 0) d
        |  LEFT JOIN agg a USING (doc_id)
        |  WHERE CASE WHEN COALESCE(a.n_sh, 0) > 0
        |    THEN CAST(a.n_ov AS DOUBLE) / a.n_sh ELSE 0.0 END < 0.05),
        |samp AS (SELECT d.doc_id, d.source, d.text
        | FROM documents d JOIN keep USING (doc_id)
        | WHERE list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(
        |      string_split(CAST(d.doc_id AS VARCHAR) || '|' || d.lang, ''),
        |      c -> CAST(ascii(c) AS BIGINT))),
        |    (h, c) -> (h * 31 + c) % 2147483647) % 10000
        |  < (CASE d.lang WHEN 'en' THEN 9000 WHEN 'de' THEN 5000
        |     WHEN 'zh' THEN 2500 ELSE 1000 END)),
        |red AS (SELECT doc_id, source,
        |  regexp_replace(regexp_replace(regexp_replace(
        |   text || ' user' || CAST(doc_id AS VARCHAR) || '@example.com +4420'
        |    || lpad(CAST(doc_id % 100000000 AS VARCHAR), 8, '0')
        |    || ' 10.' || CAST(doc_id % 200 + 1 AS VARCHAR)
        |    || '.' || CAST((doc_id * 7) % 200 + 1 AS VARCHAR)
        |    || '.' || CAST((doc_id * 13) % 200 + 1 AS VARCHAR),
        |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |   '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g'),
        |   '\+[0-9]{8,15}', '<PHONE>', 'g') AS rt
        | FROM samp),
        |n AS (SELECT source AS stream, doc_id,
        |  CAST(len(string_split_regex(trim(rt), '\s+')) AS BIGINT)
        |    AS n_tokens FROM red),
        |c AS (SELECT stream, doc_id, n_tokens,
        |  CAST(SUM(n_tokens) OVER (PARTITION BY stream ORDER BY doc_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS end_tok FROM n)
        |SELECT stream, doc_id, n_tokens, end_tok,
        | end_tok - n_tokens AS start_tok,
        | CAST((end_tok - n_tokens) // 2048 AS BIGINT) AS first_chunk,
        | CAST((end_tok - 1) // 2048 AS BIGINT) AS last_chunk
        |FROM c ORDER BY stream, doc_id""".stripMargin,

    // SemDeDup replay: centroids from exact integer quantization sums
    // (order-independent), centroid-similarity order with id tie-break,
    // unrounded pair cosines against tau (q34's precision convention).
    "q88_semdedup" ->
      """WITH ex AS (SELECT vec_id, label AS cluster,
        |  CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |  QUALIFY COUNT(*) OVER (PARTITION BY label) <= 2000),
        |dim AS (SELECT cluster, i,
        |  SUM(CAST(floor(x * 10000) AS BIGINT)) AS s, COUNT(*) AS n
        | FROM (SELECT cluster, unnest(v) AS x,
        |    unnest(range(len(v))) AS i FROM ex)
        | GROUP BY cluster, i),
        |cents AS (SELECT cluster,
        |  list(CAST(s AS DOUBLE) / (n * 10000.0) ORDER BY i) AS cv
        | FROM dim GROUP BY cluster),
        |sc AS (SELECT e.vec_id, e.cluster, e.v,
        |  round(list_cosine_similarity(e.v, c.cv), 4) + 0.0 AS r
        | FROM ex e JOIN cents c USING (cluster)),
        |vict AS (SELECT b.vec_id, COUNT(*) AS nd
        | FROM sc a JOIN sc b ON a.cluster = b.cluster
        |  AND (a.r < b.r OR (a.r = b.r AND a.vec_id < b.vec_id))
        |  AND list_cosine_similarity(a.v, b.v) >= 0.3
        | GROUP BY b.vec_id)
        |SELECT s.vec_id, s.cluster, s.r AS cent_sim,
        | CAST(COALESCE(v.nd, 0) AS BIGINT) AS n_earlier_dups,
        | (v.nd IS NULL) AS kept
        |FROM sc s LEFT JOIN vict v USING (vec_id)
        |ORDER BY s.vec_id""".stripMargin,

    // Trained-cluster SemDeDup replay: both Lloyd's iterations unrolled
    // as CTE chains (assignment = rounded-cosine argmax with cid
    // tie-break; update = exact-integer per-dim means with empty-cluster
    // carryover), then the q88 prune over the final assignment. Every
    // arithmetic step follows the established cross-engine conventions,
    // so the whole train→assign→dedup pipeline hash-matches.
    "q90_semdedup_trained" -> {
      val iters = 2
      def assign(centsCte: String, out: String) =
        s"""$out AS (SELECT vec_id, v, cid FROM (
           |  SELECT e.vec_id, e.v, c.cid, row_number() OVER (
           |    PARTITION BY e.vec_id
           |    ORDER BY round(list_cosine_similarity(e.v, c.cv), 4) + 0.0
           |      DESC, c.cid) AS rn
           |  FROM ex e CROSS JOIN $centsCte c) WHERE rn = 1)""".stripMargin
      def update(prevCents: String, asg: String, out: String) =
        s"""${out}n AS (SELECT cid,
           |  list(CAST(s AS DOUBLE) / (n * 10000.0) ORDER BY i) AS cv
           | FROM (SELECT cid, i,
           |    SUM(CAST(floor(x * 10000) AS BIGINT)) AS s, COUNT(*) AS n
           |   FROM (SELECT cid, unnest(v) AS x,
           |      unnest(range(len(v))) AS i FROM $asg)
           |   GROUP BY cid, i) GROUP BY cid),
           |$out AS (SELECT p.cid, COALESCE(nn.cv, p.cv) AS cv
           | FROM $prevCents p LEFT JOIN ${out}n nn USING (cid))"""
          .stripMargin
      val loop = (1 to iters).map(i =>
        assign(s"c${i - 1}", s"a$i") + ",\n" +
          update(s"c${i - 1}", s"a$i", s"c$i")).mkString(",\n")
      s"""WITH ex AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings),
         |c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
         |  v AS cv FROM (SELECT vec_id, v FROM ex ORDER BY vec_id LIMIT 8)),
         |$loop,
         |${assign(s"c$iters", "af")},
         |dimq AS (SELECT cid, i,
         |  SUM(CAST(floor(x * 10000) AS BIGINT)) AS s, COUNT(*) AS n
         | FROM (SELECT cid, unnest(v) AS x, unnest(range(len(v))) AS i
         |   FROM af) GROUP BY cid, i),
         |scents AS (SELECT cid,
         |  list(CAST(s AS DOUBLE) / (n * 10000.0) ORDER BY i) AS cv
         | FROM dimq GROUP BY cid),
         |sc AS (SELECT e.vec_id, e.cid, e.v,
         |  round(list_cosine_similarity(e.v, c.cv), 4) + 0.0 AS r
         | FROM af e JOIN scents c USING (cid)),
         |vict AS (SELECT b.vec_id, COUNT(*) AS nd
         | FROM sc a JOIN sc b ON a.cid = b.cid
         |  AND (a.r < b.r OR (a.r = b.r AND a.vec_id < b.vec_id))
         |  AND list_cosine_similarity(a.v, b.v) >= 0.3
         | GROUP BY b.vec_id)
         |SELECT s.vec_id, CAST(s.cid AS BIGINT) AS cluster,
         | s.r AS cent_sim,
         | CAST(COALESCE(v.nd, 0) AS BIGINT) AS n_earlier_dups,
         | (v.nd IS NULL) AS kept
         |FROM sc s LEFT JOIN vict v USING (vec_id)
         |ORDER BY s.vec_id""".stripMargin
    },

    "q34_embed_neardup" ->
      """WITH p AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings
        |  QUALIFY COUNT(*) OVER (PARTITION BY label) <= 2000)
        |SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
        | round(list_cosine_similarity(a.v, b.v), 4) + 0.0 AS sim
        |FROM p a JOIN p b ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.v, b.v) >= 0.2
        |ORDER BY doc_a, doc_b""".stripMargin,

    "q35_token_counts" ->
      """SELECT doc_id,
        | CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_words,
        | CAST(greatest(len(string_split_regex(trim(text), '\s+')),
        |   CAST(ceil(CAST(len(text) AS DOUBLE) / 4.0) AS BIGINT)) AS BIGINT)
        |   AS est_bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q36_location_intervals" ->
      s"""WITH e AS ($EventsUsSql),
         |d AS (SELECT user_id, event_id, event_type, ts_us,
         |  lag(event_type) OVER w AS pl
         | FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
         |k AS (SELECT user_id, event_id, event_type, ts_us FROM d
         | WHERE pl IS NULL OR event_type <> pl)
         |SELECT user_id, event_type AS location, ts_us AS valid_from_us,
         | lead(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
         |   AS valid_until_us
         |FROM k ORDER BY user_id, valid_from_us""".stripMargin,

    "q37_occupancy_asof" ->
      s"""WITH e AS ($EventsUsSql),
         |d AS (SELECT user_id, event_id, event_type, ts_us,
         |  lag(event_type) OVER w AS pl
         | FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
         |k AS (SELECT user_id, event_id, event_type, ts_us FROM d
         | WHERE pl IS NULL OR event_type <> pl),
         |iv AS (SELECT user_id, event_type, ts_us,
         |  lead(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
         |    AS valid_until_us
         | FROM k)
         |SELECT event_type AS location, COUNT(*) AS n_users
         |FROM iv WHERE ts_us <= 1704844800000000
         | AND (valid_until_us IS NULL OR valid_until_us > 1704844800000000)
         |GROUP BY event_type ORDER BY location""".stripMargin,

    "q38_sample_stats" ->
      """SELECT label, COUNT(*) AS n_vecs,
        | CAST(SUM(len(embedding)) AS BIGINT) AS total_samples,
        | CAST(MIN(vec_id) AS BIGINT) AS min_vec_id,
        | CAST(MAX(vec_id) AS BIGINT) AS max_vec_id
        |FROM embeddings GROUP BY label ORDER BY label""".stripMargin,

    "q39_group_collect" ->
      """SELECT label,
        | array_to_string(list(vec_id ORDER BY vec_id), ',') AS ids_csv,
        | COUNT(*) AS n
        |FROM embeddings WHERE vec_id < 40
        |GROUP BY label ORDER BY label""".stripMargin,

    "q40_histogram" ->
      """SELECT event_type, CAST(floor(value / 50.0) AS BIGINT) AS bucket,
        | COUNT(*) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY event_type, bucket
        |ORDER BY event_type, bucket""".stripMargin,

    "q42_hl7_roundtrip" ->
      """SELECT event_id,
        | strftime(CAST(ts AS TIMESTAMP), '%Y%m%d%H%M%S') AS hl7,
        | epoch_us(date_trunc('second', CAST(ts AS TIMESTAMP))) AS parsed_us
        |FROM events WHERE event_type = 'signup' ORDER BY event_id""".stripMargin,

    "q45_lang_id" ->
      """WITH lex(lang, words) AS (VALUES
        |  ('de', ['der','die','das','und','ist','ein','nicht','mit']),
        |  ('en', ['the','and','of','to','is','in','that','it']),
        |  ('es', ['el','la','los','las','es','una','que','por']),
        |  ('fr', ['le','la','et','les','des','un','une','est']),
        |  ('zh', ['的','是','了','在','我','有','和','不'])),
        |tk AS (SELECT doc_id,
        |  unnest(string_split_regex(trim(lower(text)), '\s+')) AS t
        | FROM documents),
        |sc AS (SELECT tk.doc_id, lex.lang,
        |  SUM(CASE WHEN list_contains(lex.words, tk.t) THEN 1 ELSE 0 END)
        |    AS score
        | FROM tk CROSS JOIN lex GROUP BY 1, 2),
        |best AS (SELECT doc_id, lang, score, row_number() OVER
        |  (PARTITION BY doc_id ORDER BY score DESC, lang) AS rn FROM sc)
        |SELECT d.doc_id,
        | CASE WHEN b.score > 0 THEN b.lang ELSE 'und' END AS lang_guess
        |FROM documents d JOIN best b ON b.doc_id = d.doc_id AND b.rn = 1
        |ORDER BY d.doc_id""".stripMargin,

    "q46_write_once_merge" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS nationkey,
        | CAST(n_regionkey AS BIGINT) AS regionkey FROM nation
        |UNION ALL
        |SELECT CAST(n_nationkey + 100 AS BIGINT),
        | CAST(n_regionkey AS BIGINT) FROM nation
        |ORDER BY nationkey""".stripMargin,

    "q47_write_once_errors" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS nationkey,
        | CAST(n_regionkey + 1 AS BIGINT) AS claimed,
        | CAST(n_regionkey AS BIGINT) AS stored,
        | 'ImmutableFieldChanged' AS error
        |FROM nation WHERE n_nationkey % 5 = 0
        |ORDER BY nationkey""".stripMargin,

    "q48_hl7_obx" ->
      s"""WITH e AS ($EventsUsSql),
         |s AS (SELECT * FROM e WHERE event_type = 'signup'),
         |x AS (SELECT event_id, ts_us, unnest([1, 2]) AS obx_set FROM s)
         |SELECT CAST(event_id AS BIGINT) AS event_id,
         | CAST(obx_set AS BIGINT) AS obx_set,
         | CASE obx_set WHEN 1 THEN 'HR' ELSE 'SPO2' END AS obs_id,
         | CASE obx_set WHEN 1 THEN CAST(event_id % 120 + 40 AS VARCHAR)
         |   ELSE CAST(event_id % 10 + 90 AS VARCHAR) END AS value,
         | CASE obx_set WHEN 1 THEN 'bpm' ELSE '%' END AS units,
         | 'F' AS status,
         | (ts_us // 1000000) * 1000000 AS obs_us
         |FROM x ORDER BY event_id, obx_set""".stripMargin,

    // Wire-parse round-trip: expected values computed directly from the
    // event columns (the generation is invertible), so any bug in the
    // pipe/caret splitter, MSH-9 routing, or DTM parse breaks the match.
    "q44_hl7_wire" ->
      s"""WITH e AS ($EventsUsSql)
         |SELECT CAST(event_id AS BIGINT) AS event_id,
         | CASE CAST((event_id % 4) + 1 AS INTEGER)
         |   WHEN 1 THEN 'Admit' WHEN 2 THEN 'Transfer' WHEN 3 THEN 'Discharge'
         |   ELSE 'Register' END AS msg_type,
         | 'A0' || CAST((event_id % 4) + 1 AS VARCHAR) AS trigger,
         | (ts_us // 1000000) * 1000000 AS recorded_us,
         | CAST(user_id AS VARCHAR) AS mrn,
         | '9' || CAST(user_id AS VARCHAR) AS nhs_number,
         | 'V' || CAST(event_id AS VARCHAR) AS visit_number,
         | 'I' AS patient_class,
         | 'Given' AS given_name,
         | 'Family' AS family_name,
         | 'WARD^R' || CAST(user_id % 10 AS VARCHAR) || '^B1' AS location
         |FROM e ORDER BY event_id""".stripMargin,

    "q49_dead_letter" ->
      s"""WITH e AS ($EventsUsSql)
         |SELECT CAST(event_id AS BIGINT) AS event_id,
         | CASE WHEN event_id % 6 <= 3 THEN 'dead' ELSE 'clean' END AS channel,
         | CASE event_id % 6 WHEN 0 THEN 'unroutable'
         |   WHEN 1 THEN 'unhandled_type' WHEN 2 THEN 'missing_mrn'
         |   WHEN 3 THEN 'missing_valid_from' END AS reason
         |FROM e ORDER BY event_id""".stripMargin,

    "q50_hl7_lab_nested" ->
      s"""WITH e AS ($EventsUsSql),
         |s AS (SELECT * FROM e WHERE event_type = 'signup')
         |SELECT CAST(event_id AS BIGINT) AS event_id,
         | CAST(0 AS BIGINT) AS order_idx,
         | 'O' || CAST(event_id AS VARCHAR) || 'A' AS filler_order,
         | 'FBC' AS test_id, 'WinPath' AS coding_system,
         | CAST(1 AS BIGINT) AS set_id, 'HGB' AS obs_id,
         | CAST(event_id % 50 + 100 AS VARCHAR) AS value, 'g/dL' AS units
         |FROM s
         |UNION ALL
         |SELECT CAST(event_id AS BIGINT), CAST(0 AS BIGINT),
         | 'O' || CAST(event_id AS VARCHAR) || 'A', 'FBC', 'WinPath',
         | CAST(2 AS BIGINT), 'WCC',
         | CAST(event_id % 20 + 4 AS VARCHAR), 'x10e9/L'
         |FROM s
         |UNION ALL
         |SELECT CAST(event_id AS BIGINT), CAST(1 AS BIGINT),
         | 'O' || CAST(event_id AS VARCHAR) || 'B', 'UE', 'WinPath',
         | CAST(1 AS BIGINT), 'NA',
         | CAST(event_id % 15 + 130 AS VARCHAR), 'mmol/L'
         |FROM s
         |ORDER BY event_id, order_idx, set_id""".stripMargin,

    "q51_hl7_problems" ->
      s"""WITH e AS ($EventsUsSql)
         |SELECT CAST(event_id AS BIGINT) AS event_id,
         | CAST(user_id AS VARCHAR) AS mrn,
         | CASE event_id % 3 WHEN 0 THEN 'AD' WHEN 1 THEN 'UP' ELSE 'DE' END
         |   AS action,
         | 'C' || CAST(event_id % 100 AS VARCHAR) AS condition_code,
         | 'I10UK' AS coding_system,
         | CAST(event_id AS VARCHAR) AS problem_id,
         | CASE WHEN event_id % 2 = 0 THEN 'ACTIVE' ELSE 'RESOLVED' END
         |   AS status,
         | (ts_us // 1000000) * 1000000 AS updated_us,
         | (ts_us // 1000000) * 1000000 AS added_us
         |FROM e ORDER BY event_id""".stripMargin,

    "q52_hl7_consults" ->
      s"""WITH e AS ($EventsUsSql)
         |SELECT CAST(event_id AS BIGINT) AS event_id,
         | CAST(user_id AS VARCHAR) AS mrn,
         | CAST(event_id AS BIGINT) AS consult_id,
         | 'CON' || CAST(event_id % 50 AS VARCHAR) AS consultation_type,
         | CAST(CASE WHEN event_id % 3 = 1 THEN 1 ELSE 0 END AS BIGINT)
         |   AS cancelled,
         | CAST(CASE WHEN event_id % 3 = 2 THEN 1 ELSE 0 END AS BIGINT)
         |   AS closed_discharge,
         | (ts_us // 1000000) * 1000000 AS status_change_us,
         | (ts_us // 1000000) * 1000000 AS scheduled_us
         |FROM e ORDER BY event_id""".stripMargin,

    "q53_hl7_flowsheet" ->
      s"""WITH e AS ($EventsUsSql)
         |SELECT CAST(event_id AS BIGINT) AS event_id,
         | 'F' || CAST(event_id AS VARCHAR) || '$$01' AS msg_id,
         | CAST(user_id AS VARCHAR) AS mrn,
         | 'V' || CAST(event_id AS VARCHAR) AS visit_number,
         | 'ID' || CAST(event_id % 9 AS VARCHAR) AS interface_id,
         | CASE event_id % 3 WHEN 0 THEN 'NUMERIC' WHEN 1 THEN 'TEXT'
         |   ELSE 'DATE' END AS value_type,
         | CASE WHEN event_id % 7 <> 0 AND event_id % 3 = 0
         |   THEN CAST(event_id % 120 + 40 AS DOUBLE) END AS numeric_value,
         | CASE WHEN event_id % 7 <> 0 AND event_id % 3 = 1
         |   THEN 'pos' || CAST(event_id % 10 AS VARCHAR) END AS string_value,
         | CASE WHEN event_id % 7 <> 0 AND event_id % 3 = 2
         |   THEN strftime(make_timestamp(ts_us), '%Y-%m-%d') END AS date_value,
         | CASE WHEN event_id % 7 = 0 THEN 'DELETE' ELSE 'SAVE' END AS status,
         | (ts_us // 1000000) * 1000000 AS obs_us
         |FROM e ORDER BY event_id""".stripMargin,

    "q43_bitemporal_travel" -> BitemporalBeliefSql,

    // identical belief semantics, derived from the PERSISTED pipeline
    // state instead of an in-memory fold — same oracle replay
    "q70_bitemporal_pipeline" -> BitemporalBeliefSql,

    "q71_pipeline_occupancy" ->
      s"""WITH e AS ($EventsUsSql),
         |b AS (SELECT user_id, event_id, event_type,
         |  (ts_us // 1000000) * 1000000 AS vf,
         |  CAST(event_id % 5 AS INTEGER) AS trig FROM e),
         |mv AS (SELECT 'V' || CAST(user_id AS VARCHAR) AS visit_id,
         |  event_type || '_' || CAST(event_id AS VARCHAR) AS location,
         |  vf, event_id FROM b WHERE trig IN (0, 1, 2)),
         |runs AS (SELECT visit_id, location, vf, event_id,
         |  lead(vf) OVER (PARTITION BY visit_id ORDER BY vf, event_id)
         |    AS next_vf
         | FROM mv),
         |disc AS (SELECT 'V' || CAST(user_id AS VARCHAR) AS visit_id,
         |  MAX(vf) AS final_dis FROM b WHERE trig = 4 GROUP BY 1),
         |iv AS (SELECT r.visit_id, r.location, r.vf AS admission_us,
         |  CAST(0 AS BIGINT) AS inferred_admission,
         |  COALESCE(r.next_vf, d.final_dis) AS discharge_us,
         |  CAST(CASE WHEN r.next_vf IS NOT NULL THEN 1 ELSE 0 END
         |    AS BIGINT) AS inferred_discharge
         | FROM runs r LEFT JOIN disc d USING (visit_id)),
         |orph AS (SELECT d.visit_id, CAST(NULL AS VARCHAR) AS location,
         |  d.final_dis - 1000000 AS admission_us, CAST(1 AS BIGINT),
         |  d.final_dis AS discharge_us, CAST(0 AS BIGINT)
         | FROM disc d
         | WHERE d.visit_id NOT IN (SELECT DISTINCT visit_id FROM mv))
         |SELECT visit_id, location, admission_us, inferred_admission,
         | discharge_us, inferred_discharge
         |FROM (SELECT * FROM iv UNION ALL SELECT * FROM orph)
         |WHERE discharge_us IS NULL OR discharge_us > admission_us
         |ORDER BY visit_id, admission_us, location""".stripMargin,

    "q72_pipeline_mrn_map" ->
      s"""WITH RECURSIVE e AS ($EventsUsSql),
         |edges AS (SELECT DISTINCT
         |  'M' || CAST(user_id - 1 AS VARCHAR) AS absorbed,
         |  'M' || CAST(user_id AS VARCHAR) AS survivor
         | FROM e WHERE event_id % 13 = 0),
         |mrns AS (SELECT DISTINCT 'M' || CAST(user_id AS VARCHAR) AS mrn
         |  FROM e
         | UNION SELECT absorbed FROM edges
         | UNION SELECT survivor FROM edges),
         |walk(mrn, cur) AS (SELECT mrn, mrn FROM mrns
         | UNION SELECT w.mrn, ed.survivor
         |   FROM walk w JOIN edges ed ON ed.absorbed = w.cur)
         |SELECT w.mrn, w.cur AS live_mrn FROM walk w
         |WHERE NOT EXISTS (SELECT 1 FROM edges ed WHERE ed.absorbed = w.cur)
         |ORDER BY mrn""".stripMargin,

    "q73_pipeline_conditions" ->
      s"""WITH e AS ($EventsUsSql),
         |b AS (SELECT user_id, event_id,
         |  (ts_us // 1000000) * 1000000 AS vf,
         |  CAST(event_id % 20 AS INTEGER) AS k,
         |  CASE WHEN event_id % 7 = 0 THEN 'DE'
         |       WHEN event_id % 2 = 0 THEN 'AD' ELSE 'UP' END AS action,
         |  'S' || CAST(event_id % 3 AS VARCHAR) AS status FROM e),
         |last AS (SELECT 'M' || CAST(user_id AS VARCHAR) AS mrn,
         |  'I10UK:C' || CAST(k AS VARCHAR) AS condition_type,
         |  'P' || CAST(k AS VARCHAR) AS internal_id,
         |  status, strftime(make_timestamp(vf), '%Y-%m-%d') AS onset_date,
         |  action,
         |  ROW_NUMBER() OVER (PARTITION BY user_id, k
         |    ORDER BY vf DESC, event_id DESC) AS rn
         | FROM b)
         |SELECT mrn, condition_type, internal_id, status, onset_date,
         | action
         |FROM last WHERE rn = 1 AND action <> 'DE'
         |ORDER BY mrn, condition_type""".stripMargin,

    "q82_condition_visits" ->
      s"""WITH e AS ($EventsUsSql),
         |b AS (SELECT user_id, event_id,
         |  (ts_us // 1000000) * 1000000 AS vf,
         |  CAST(event_id % 20 AS INTEGER) AS k,
         |  CASE WHEN event_id % 7 = 0 THEN 'DE'
         |       WHEN event_id % 2 = 0 THEN 'AD' ELSE 'UP' END AS action,
         |  'S' || CAST(event_id % 3 AS VARCHAR) AS status FROM e),
         |links AS (SELECT DISTINCT
         |  'M' || CAST(user_id AS VARCHAR) AS mrn,
         |  'I10UK:C' || CAST(k AS VARCHAR) AS condition_type,
         |  'P' || CAST(k AS VARCHAR) AS internal_id,
         |  'E' || CAST(user_id AS VARCHAR) || 'x'
         |    || CAST(event_id % 4 AS VARCHAR) AS visit_id
         | FROM b WHERE event_id % 3 <> 0),
         |last AS (SELECT 'M' || CAST(user_id AS VARCHAR) AS mrn,
         |  'I10UK:C' || CAST(k AS VARCHAR) AS condition_type,
         |  'P' || CAST(k AS VARCHAR) AS internal_id,
         |  status, action,
         |  ROW_NUMBER() OVER (PARTITION BY user_id, k
         |    ORDER BY vf DESC, event_id DESC) AS rn
         | FROM b)
         |SELECT l.mrn, l.condition_type, l.internal_id, l.visit_id,
         | la.status
         |FROM links l JOIN last la
         |  USING (mrn, condition_type, internal_id)
         |WHERE la.rn = 1 AND la.action <> 'DE'
         |ORDER BY mrn, condition_type, visit_id""".stripMargin,

    "q80_dup_spans" ->
      """WITH base AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  string_split_regex(trim(text), '\s+') AS ws FROM documents),
        |wins AS (SELECT doc_id,
        |  unnest(range(1, len(ws) - 6)) - 1 AS win_idx,
        |  unnest(list_transform(range(1, len(ws) - 6),
        |    i -> array_to_string(ws[i:i + 7], ' '))) AS win
        | FROM base WHERE len(ws) >= 8),
        |hashed AS (SELECT doc_id, win_idx,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(string_split(win, ''),
        |      c -> CAST(ascii(c) AS BIGINT))),
        |    (h, c) -> (h * 31 + c) % 2147483647) AS window_hash
        | FROM wins),
        |shared AS (SELECT window_hash,
        |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
        | FROM hashed GROUP BY 1 HAVING COUNT(DISTINCT doc_id) > 1)
        |SELECT h.doc_id, CAST(h.win_idx AS BIGINT) AS win_idx,
        | h.window_hash, s.n_docs
        |FROM hashed h JOIN shared s USING (window_hash)
        |ORDER BY doc_id, win_idx""".stripMargin,

    "q79_waveform_hl7" ->
      s"""WITH e AS ($EventsUsSql),
         |m AS (SELECT 'W' || CAST(event_id AS VARCHAR) || '_1_1' AS msg_id,
         |  'T42^B1' AS location,
         |  52912 + (event_id % 3) AS stream_id,
         |  (ts_us // 1000000) * 1000000 AS obs_us,
         |  CAST(event_id % 97 AS DOUBLE) AS v1,
         |  CAST(event_id % 83 + 2 AS DOUBLE) AS v3,
         |  event_id % 3 AS s3 FROM e)
         |SELECT msg_id, location, CAST(stream_id AS BIGINT) AS stream_id,
         | CAST(CASE s3 WHEN 0 THEN 300 WHEN 1 THEN 50 ELSE 120 END
         |   AS BIGINT) AS rate,
         | CASE s3 WHEN 0 THEN 'uV' WHEN 1 THEN 'mmHg' ELSE 'x' END AS unit,
         | obs_us, v1, v3,
         | CASE WHEN s3 = 2 THEN 'unusable_stream' END AS error
         |FROM m ORDER BY msg_id""".stripMargin,

    "q78_ivf_index" ->
      """WITH q AS (SELECT vec_id AS query_id,
        |  CAST(embedding AS DOUBLE[]) AS qv, label
        | FROM embeddings WHERE vec_id < 8),
        |p AS (SELECT query_id, qv, unnest([CAST(label AS BIGINT),
        |  CAST((label + 1) % (SELECT MAX(label) + 1 FROM embeddings)
        |    AS BIGINT)]) AS probe FROM q),
        |c AS (SELECT vec_id AS neighbor_id,
        |  CAST(embedding AS DOUBLE[]) AS cv, CAST(label AS BIGINT) AS cl
        | FROM embeddings),
        |sx AS (SELECT query_id, neighbor_id,
        |  round(list_cosine_similarity(qv, cv), 4) + 0.0 AS sim
        | FROM p JOIN c ON probe = cl AND query_id <> neighbor_id),
        |r AS (SELECT query_id, neighbor_id, sim, row_number() OVER
        |  (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
        | FROM sx)
        |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, sim
        |FROM r WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,

    "q77_repetition" ->
      """WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  trim(text) AS t FROM documents),
        |base AS (SELECT doc_id,
        |  list_filter(string_split(t, chr(10)), x -> len(trim(x)) > 0) AS ls,
        |  list_filter(string_split_regex(t, '\s+'), x -> len(x) > 0) AS ws
        | FROM d),
        |lw AS (SELECT doc_id, len(ls) AS nl, len(ws) AS nw,
        |  COALESCE(list_sum(list_transform(ls, x -> len(x))), 0) AS lc,
        |  COALESCE(list_sum(list_transform(list_distinct(ls),
        |    x -> len(x))), 0) AS dlc,
        |  len(list_distinct(ls)) AS dnl,
        |  COALESCE(list_sum(list_transform(ws, x -> len(x))), 0) AS wc,
        |  ws FROM base),
        |g2 AS (SELECT doc_id, unnest(list_transform(range(1, nw),
        |  i -> ws[i] || ' ' || ws[i + 1])) AS g FROM lw WHERE nw >= 2),
        |c2 AS (SELECT doc_id, g, COUNT(*) AS c FROM g2 GROUP BY 1, 2),
        |b2 AS (SELECT doc_id, c, len(g) - 1 AS l FROM (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY c DESC, len(g) - 1 DESC, g DESC) AS rn FROM c2)
        | WHERE rn = 1),
        |g5 AS (SELECT doc_id, unnest(list_transform(range(1, nw - 3),
        |  i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2] || ' ' ||
        |    ws[i + 3] || ' ' || ws[i + 4])) AS g FROM lw WHERE nw >= 5),
        |c5 AS (SELECT doc_id,
        |  SUM(CASE WHEN c > 1 THEN c * (len(g) - 4) ELSE 0 END) AS dup
        | FROM (SELECT doc_id, g, COUNT(*) AS c FROM g5 GROUP BY 1, 2)
        | GROUP BY 1),
        |f AS (SELECT lw.doc_id, nl AS n_lines, nw AS n_words,
        |  CASE WHEN nl > 0 THEN CAST(nl - dnl AS DOUBLE) / nl
        |    ELSE 0.0 END AS dup_line_frac,
        |  CASE WHEN lc > 0 THEN CAST(lc - dlc AS DOUBLE) / lc
        |    ELSE 0.0 END AS dup_line_char_frac,
        |  CASE WHEN b2.c IS NOT NULL AND wc > 0
        |    THEN CAST(b2.c * b2.l AS DOUBLE) / wc
        |    ELSE 0.0 END AS top_2gram_char_frac,
        |  CASE WHEN wc > 0 THEN least(1.0,
        |      CAST(COALESCE(c5.dup, 0) AS DOUBLE) / wc)
        |    ELSE 0.0 END AS dup_5gram_char_frac
        | FROM lw LEFT JOIN b2 ON lw.doc_id = b2.doc_id
        |   LEFT JOIN c5 ON lw.doc_id = c5.doc_id)
        |SELECT *, CAST(CASE WHEN dup_line_frac <= 0.30
        |  AND dup_line_char_frac <= 0.20 AND top_2gram_char_frac <= 0.20
        |  AND dup_5gram_char_frac <= 0.15 THEN 1 ELSE 0 END AS BIGINT)
        |  AS repetition_pass
        |FROM f ORDER BY doc_id""".stripMargin,

    "q76_wire_bitemporal" ->
      s"""WITH e AS ($EventsUsSql),
         |m AS (SELECT 'M' || CAST(user_id AS VARCHAR) AS mrn,
         |  (ts_us // 1000000) * 1000000 AS vf,
         |  'B' || lpad(CAST(event_id AS VARCHAR), 10, '0') AS mid,
         |  CASE WHEN event_id % 7 = 0 THEN 'Admit' ELSE 'Transfer' END
         |    AS msg_type,
         |  event_type || '_' || CAST(event_id AS VARCHAR) AS location,
         |  'V' || CAST(user_id AS VARCHAR) AS visit_id,
         |  CASE WHEN event_id % 2 = 0 THEN 1 ELSE 2 END AS b
         | FROM e),
         |per AS (
         | SELECT 1 AS cutoff, * FROM m WHERE b <= 1
         | UNION ALL SELECT 2 AS cutoff, * FROM m),
         |v AS (SELECT cutoff, mrn, vf AS valid_from_us,
         |  lead(vf) OVER (PARTITION BY cutoff, mrn ORDER BY vf, mid)
         |    AS valid_until_us,
         |  msg_type, location, visit_id FROM per)
         |SELECT cutoff, mrn, valid_from_us, valid_until_us, msg_type,
         | location, visit_id
         |FROM v ORDER BY cutoff, mrn, valid_from_us""".stripMargin,

    "q75_forms_pipeline" ->
      """WITH o AS (SELECT CAST(o_orderkey AS BIGINT) AS k FROM orders),
        |a AS (
        | SELECT 'F' || CAST(k AS VARCHAR) AS form_instance, k % 5 AS fid,
        |  'Q1' AS question_id, k * 1000 AS filed_us,
        |  CAST(k % 97 AS DOUBLE) AS num_value,
        |  CAST(NULL AS VARCHAR) AS str_value, k * 10 + 1 AS msg FROM o
        | UNION ALL
        | SELECT 'F' || CAST(k AS VARCHAR), k % 5, 'Q2', k * 1000,
        |  CAST(NULL AS DOUBLE), 'S' || CAST(k % 3 AS VARCHAR),
        |  k * 10 + 2 FROM o
        | UNION ALL
        | SELECT 'F' || CAST(k AS VARCHAR), k % 5, 'Q1', k * 1000 + 7,
        |  CAST(k % 97 + 1 AS DOUBLE), CAST(NULL AS VARCHAR),
        |  k * 10 + 3 FROM o WHERE k % 2 = 0),
        |last AS (SELECT *, row_number() OVER (
        |  PARTITION BY form_instance, question_id
        |  ORDER BY filed_us DESC, msg DESC) AS rn FROM a)
        |SELECT form_instance, question_id, filed_us, num_value, str_value,
        | CASE WHEN fid <= 2 THEN 'Form D' || CAST(fid AS VARCHAR) END
        |   AS form_name,
        | CAST(CASE WHEN fid <= 2 THEN 0 ELSE 1 END AS BIGINT)
        |   AS form_placeholder,
        | CASE WHEN question_id = 'Q1' THEN 'Numeric score' END
        |   AS question_name
        |FROM last WHERE rn = 1
        |ORDER BY form_instance, question_id""".stripMargin,

    "q74_pipeline_labs" ->
      """SELECT CAST(o_orderkey AS BIGINT) AS order_key,
        | 'FBC' AS battery, 'M' || CAST(o_custkey AS VARCHAR) AS mrn,
        | t.test_code, 'NUMERIC' AS mime,
        | CASE t.test_code WHEN 'HGB' THEN CAST(o_orderkey % 90 + 10 AS DOUBLE)
        |   ELSE CAST(o_custkey % 50 + 1 AS DOUBLE) END AS num_value,
        | CASE t.test_code WHEN 'HGB' THEN 'g/dL' ELSE '10*9/L' END AS units
        |FROM orders CROSS JOIN (SELECT UNNEST(['HGB', 'WCC']) AS test_code) t
        |ORDER BY order_key, test_code""".stripMargin,

    "q41_daily_activity" ->
      """WITH e AS (SELECT user_id,
        |  strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day FROM events)
        |SELECT day, COUNT(*) AS n_events,
        | COUNT(DISTINCT user_id) AS n_users
        |FROM e GROUP BY day ORDER BY day""".stripMargin,

    // q21's LSH pair replay + a recursive CTE for min-id connected
    // components — the oracle for the distributed label-propagation op.
    "q56_dup_clusters" ->
      s"""WITH RECURSIVE $DupClustersChainSql
         |SELECT CAST(node AS BIGINT) AS doc_id,
         | CAST(MIN(r) AS BIGINT) AS cluster_id
         |FROM walk GROUP BY node ORDER BY doc_id""".stripMargin,

    // Cluster representatives: the q56 chain, then keep the
    // best-quality member per cluster (n_distinct DESC, doc_id ASC).
    "q112_cluster_representatives" ->
      s"""WITH RECURSIVE $DupClustersChainSql,
         |cl AS (SELECT CAST(node AS BIGINT) AS doc_id,
         |   CAST(MIN(r) AS BIGINT) AS cluster_id
         |  FROM walk GROUP BY node),
         |nd AS (SELECT doc_id, COUNT(DISTINCT tok) AS n_distinct
         |  FROM toks GROUP BY doc_id),
         |mem AS (SELECT cl.doc_id, cl.cluster_id, nd.n_distinct,
         |   ROW_NUMBER() OVER (PARTITION BY cl.cluster_id
         |     ORDER BY nd.n_distinct DESC, cl.doc_id) AS rn
         |  FROM cl JOIN nd USING (doc_id))
         |SELECT cluster_id,
         | CAST(MIN(CASE WHEN rn = 1 THEN doc_id END) AS BIGINT)
         |   AS keep_id,
         | CAST(COUNT(*) AS BIGINT) AS n_members
         |FROM mem GROUP BY cluster_id ORDER BY cluster_id""".stripMargin,

    "q57_wire_funnel" ->
      """SELECT CAST(o_orderkey AS BIGINT) AS order_key,
        | CASE CAST(o_orderkey % 7 AS INTEGER)
        |  WHEN 0 THEN 'WIN_PATH' WHEN 1 THEN 'CO_PATH'
        |  WHEN 2 THEN 'BIO_CONNECT' WHEN 3 THEN 'ABL90_FLEX_PLUS'
        |  WHEN 4 THEN 'PACS' WHEN 5 THEN 'FLOWSHEET'
        |  ELSE 'BANK_MANAGER' END AS coding_system
        |FROM orders ORDER BY order_key""".stripMargin,

    "q58_winpath_wire" ->
      """SELECT CAST(o_orderkey AS BIGINT) AS order_key,
        | 'EP' || CAST(o_orderkey AS VARCHAR) AS epic,
        | lpad(CAST(o_orderkey AS VARCHAR), 9, '0') AS specimen,
        | 'LAB_ISOLATE' AS mime,
        | 'ISO' || CAST(o_custkey % 50 AS VARCHAR) AS iso_code,
        | 'Bug ' || CAST(o_custkey % 50 AS VARCHAR) AS iso_name,
        | 'Q' || CAST(o_orderkey % 9 AS VARCHAR) AS quantity,
        | 'CLIN' || CAST(o_orderkey AS VARCHAR) AS clin_info,
        | CAST(1 AS BIGINT) AS sens_n,
        | 'AG' || CAST(o_orderkey % 5 AS VARCHAR) AS sens_agent,
        | CASE WHEN o_orderkey % 2 = 0 THEN 'S' ELSE 'R' END AS sens_value,
        | CAST(o_orderkey % 120 + 40 AS DOUBLE) AS wcc
        |FROM orders ORDER BY order_key""".stripMargin,

    "q59_copath_pdf" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id,
        | 'UH' AS battery,
        | 'Report ' || CAST(doc_id AS VARCHAR) AS report,
        | 'PDF' AS mime,
        | 'DOC ' || CAST(doc_id AS VARCHAR) || ' ' ||
        |   substring(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g'), 1, 40)
        |   AS decoded
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q60_abl90_wire" ->
      """SELECT CAST(o_orderkey AS BIGINT) AS order_key,
        | 'FIL' || CAST(o_orderkey AS VARCHAR) AS specimen,
        | 'Venous blood' AS specimen_type,
        | CAST(1714564680000000 AS BIGINT) AS received_us,
        | CAST(o_orderkey % 90 + 10 AS DOUBLE) AS value,
        | CASE CAST(o_orderkey % 3 AS INTEGER)
        |   WHEN 0 THEN '<' WHEN 1 THEN '>' ELSE '=' END AS op,
        | CASE CAST(o_orderkey % 3 AS INTEGER)
        |   WHEN 0 THEN '<' WHEN 1 THEN '>' ELSE '' END ||
        |   CAST(o_orderkey % 90 + 10 AS VARCHAR) AS raw_value,
        | 'kPa' AS units
        |FROM orders ORDER BY order_key""".stripMargin,

    "q61_adt_matrix" ->
      s"""WITH e AS ($EventsUsSql),
         |t AS (SELECT *,
         |  CASE CAST(event_id % 19 AS INTEGER)
         |   WHEN 0 THEN 'A01' WHEN 1 THEN 'A02' WHEN 2 THEN 'A03'
         |   WHEN 3 THEN 'A04' WHEN 4 THEN 'A06' WHEN 5 THEN 'A07'
         |   WHEN 6 THEN 'A08' WHEN 7 THEN 'A11' WHEN 8 THEN 'A12'
         |   WHEN 9 THEN 'A13' WHEN 10 THEN 'A15' WHEN 11 THEN 'A17'
         |   WHEN 12 THEN 'A26' WHEN 13 THEN 'A28' WHEN 14 THEN 'A29'
         |   WHEN 15 THEN 'A31' WHEN 16 THEN 'A40' WHEN 17 THEN 'A45'
         |   ELSE 'A47' END AS trigger
         | FROM e)
         |SELECT CAST(event_id AS BIGINT) AS event_id, trigger,
         | CASE trigger
         |  WHEN 'A01' THEN 'Admit'
         |  WHEN 'A02' THEN 'Transfer' WHEN 'A06' THEN 'Transfer'
         |  WHEN 'A07' THEN 'Transfer'
         |  WHEN 'A03' THEN 'Discharge' WHEN 'A04' THEN 'Register'
         |  WHEN 'A08' THEN 'UpdateInfo' WHEN 'A28' THEN 'UpdateInfo'
         |  WHEN 'A31' THEN 'UpdateInfo'
         |  WHEN 'A11' THEN 'CancelAdmit' WHEN 'A12' THEN 'CancelTransfer'
         |  WHEN 'A13' THEN 'CancelDischarge'
         |  WHEN 'A15' THEN 'PendingTransfer' WHEN 'A17' THEN 'SwapLocations'
         |  WHEN 'A26' THEN 'CancelPendingTransfer'
         |  WHEN 'A29' THEN 'DeletePersonInformation'
         |  WHEN 'A40' THEN 'MergePatient' WHEN 'A45' THEN 'MoveVisit'
         |  ELSE 'ChangeIdentifiers' END AS msg_type,
         | CAST(user_id AS VARCHAR) AS mrn,
         | 'V' || CAST(event_id AS VARCHAR) AS visit_number,
         | 'O' || CAST(user_id AS VARCHAR) AS previous_mrn,
         | '8' || CAST(user_id AS VARCHAR) AS previous_nhs,
         | 'PV' || CAST(event_id AS VARCHAR) AS previous_visit,
         | 'PD' || CAST(event_id AS VARCHAR) AS pending_dest,
         | 'X' || CAST(user_id AS VARCHAR) AS other_mrn,
         | 'W' || CAST(event_id AS VARCHAR) AS other_visit,
         | (ts_us // 1000000) * 1000000 AS valid_from_us
         |FROM t ORDER BY event_id""".stripMargin,

    "q62_infection_gate" ->
      s"""WITH e AS ($EventsUsSql),
         |z AS (SELECT user_id, event_id,
         |  (ts_us // 1000000 - (event_id % 7) * 3600) * 1000000 AS added_us
         | FROM e),
         |g AS (SELECT *, max(added_us) OVER (ORDER BY event_id
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prog
         | FROM z)
         |SELECT CAST(event_id AS BIGINT) AS event_id,
         | 'C' || CAST(event_id % 40 AS VARCHAR) AS condition_code,
         | added_us, CAST(user_id AS VARCHAR) AS mrn
         |FROM g WHERE added_us >= COALESCE(prog, 0)
         |ORDER BY event_id""".stripMargin,

    "q63_allergy_wire" ->
      s"""WITH e AS ($EventsUsSql)
         |SELECT CAST(event_id AS BIGINT) AS event_id,
         | CAST(user_id AS VARCHAR) AS mrn,
         | 'DA' AS sub_type,
         | 'ALLERGEN' || CAST(event_id % 25 AS VARCHAR) AS condition_code,
         | 'SV' || CAST(event_id % 3 AS VARCHAR) AS severity,
         | CASE CAST(event_id % 4 AS INTEGER)
         |   WHEN 0 THEN 'AD' WHEN 1 THEN 'DE' ELSE 'UP' END AS action,
         | CAST(event_id % 3 + 1 AS BIGINT) AS n_reactions,
         | CAST(event_id AS BIGINT) AS epic_id,
         | strftime(make_timestamp((ts_us // 1000000) * 1000000),
         |   '%Y-%m-%d') AS onset_date,
         | (ts_us // 1000000) * 1000000 AS added_us,
         | 'Active' AS status
         |FROM e ORDER BY event_id""".stripMargin,

    "q64_ingest_rates" ->
      s"""WITH e AS ($EventsUsSql)
         |SELECT (ts_us // 3600000000) * 3600000000 AS bucket_us,
         | event_type, COUNT(*) AS n_messages,
         | MIN(ts_us) AS first_us, MAX(ts_us) AS last_us
         |FROM e GROUP BY 1, 2 ORDER BY bucket_us, event_type""".stripMargin,

    "q65_compacted_fold" ->
      s"""WITH e AS ($EventsUsSql),
         |ev AS (SELECT user_id, event_id, event_type, value, ts_us FROM e
         |  WHERE event_id % 2 = 0),
         |d1 AS (SELECT *, lag(event_type) OVER w AS pt, lag(value) OVER w AS pv
         |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
         |k1 AS (SELECT user_id, event_id, event_type, value, ts_us FROM d1
         |  WHERE pt IS NULL OR event_type IS DISTINCT FROM pt
         |    OR value IS DISTINCT FROM pv),
         |m2 AS (SELECT * FROM k1
         |  UNION ALL
         |  SELECT user_id, event_id, event_type, value, ts_us FROM e
         |  WHERE event_id % 2 = 1 AND ts_us >= 1705276800000000),
         |d2 AS (SELECT *, lag(event_type) OVER w AS pt, lag(value) OVER w AS pv
         |  FROM m2 WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
         |k2 AS (SELECT user_id, event_id, event_type, value, ts_us FROM d2
         |  WHERE pt IS NULL OR event_type IS DISTINCT FROM pt
         |    OR value IS DISTINCT FROM pv)
         |SELECT user_id, CAST(event_id AS BIGINT) AS event_id, event_type,
         | value, ts_us AS valid_from_us
         |FROM k2 ORDER BY user_id, valid_from_us, event_id""".stripMargin,

    "q66_demographics_wire" ->
      s"""WITH e AS ($EventsUsSql)
         |SELECT CAST(event_id AS BIGINT) AS event_id,
         | 'Mid' AS middle_name,
         | 'Ttl' AS title,
         | CASE WHEN event_id % 2 = 0 THEN 'F' ELSE 'M' END AS sex,
         | 'ZIP' || CAST(user_id % 100 AS VARCHAR) AS postal,
         | 'REL' || CAST(user_id % 5 AS VARCHAR) AS religion,
         | 'E' || CAST(user_id % 10 AS VARCHAR) AS ethnic_code,
         | CASE CAST(event_id % 3 AS INTEGER)
         |   WHEN 0 THEN 0 WHEN 1 THEN 1 END AS is_alive,
         | (ts_us // 1000000) * 1000000 AS death_us,
         | 'MODE' || CAST(event_id % 4 AS VARCHAR) AS mode_arrival,
         | 'PREV^O^L' AS previous_location,
         | CASE CAST(event_id % 8 AS INTEGER)
         |   WHEN 0 THEN 'INPATIENT' WHEN 1 THEN 'OUTPATIENT'
         |   WHEN 2 THEN 'EMERGENCY' WHEN 3 THEN 'NOT_APPLICABLE'
         |   WHEN 4 THEN 'NEW_BORN' WHEN 5 THEN 'PRE_ADMIT'
         |   WHEN 6 THEN 'DAY_CASE' ELSE 'SURGICAL_ADMISSION' END
         |   AS class_name
         |FROM e ORDER BY event_id""".stripMargin,

    "q67_problem_comments" ->
      s"""WITH e AS ($EventsUsSql)
         |SELECT CAST(event_id AS BIGINT) AS event_id,
         | 'C' || CAST(event_id % 100 AS VARCHAR) AS condition_code,
         | CASE WHEN event_id % 3 <> 0 THEN
         |   'note' || CAST(event_id AS VARCHAR) || ' extra' ||
         |   CAST(event_id AS VARCHAR) || ' tail' END AS comment
         |FROM e ORDER BY event_id""".stripMargin,

    "q68_prep_pipeline" ->
      """WITH dd AS (SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_dups
        |  FROM documents GROUP BY text),
        |sv AS (SELECT doc_id, text, n_dups
        |  FROM documents JOIN dd ON doc_id = keep_id),
        |tk AS (SELECT doc_id, n_dups,
        |  UNNEST(string_split_regex(trim(text), '\s+')) AS tok FROM sv),
        |ag AS (SELECT doc_id, MIN(n_dups) AS n_dups, COUNT(*) AS n_tokens,
        |  CAST(SUM(CASE WHEN tok IN ('the','a','of','and','to','in')
        |    THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS stop_ratio
        | FROM tk GROUP BY doc_id)
        |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        | CAST(n_dups AS BIGINT) AS n_dups
        |FROM ag
        |WHERE n_tokens >= 5 AND n_tokens <= 100000 AND stop_ratio < 0.5
        |ORDER BY doc_id""".stripMargin,

    "q69_waveform_downsample" ->
      """WITH s AS (SELECT loc.l AS loc, k.k AS k,
        |  round(999.0 * sin(2 * pi() * 5.0 * k.k / 50.0), 6) AS v,
        |  ((k.k // 40) * 800000 // 60000000) * 60000000 AS minute_us
        | FROM (SELECT UNNEST(range(5)) AS l) loc,
        |      (SELECT UNNEST(range(6000)) AS k) k)
        |SELECT 'LOC' || CAST(loc AS VARCHAR) AS location_id, minute_us,
        | COUNT(*) AS n_samples,
        | CAST(SUM(CAST(v AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*)
        |   AS mean_value
        |FROM s GROUP BY loc, minute_us
        |ORDER BY location_id, minute_us""".stripMargin,

    "q81_location_states" ->
      """WITH base AS (
        | SELECT o_orderkey AS msg_id,
        |  o_custkey % 20 AS department_id,
        |  'R' || CAST(o_orderkey % 50 AS VARCHAR) AS room,
        |  'B' || CAST(o_orderkey % 7 AS VARCHAR) AS bed,
        |  epoch_us(CAST(o_orderdate AS TIMESTAMP)) AS contact_us,
        |  CASE WHEN o_orderstatus = 'F' THEN 'ACTIVE' ELSE 'INACTIVE' END
        |    AS status,
        |  (o_orderkey % 11 = 0) AS is_pool,
        |  (o_orderkey % 5 = 0) AS is_bunk,
        |  (o_orderkey % 2 = 0) AS in_census,
        |  CASE WHEN o_orderkey % 3 = 0 THEN 'COT'
        |       WHEN o_orderkey % 3 = 1 THEN 'MONITOR' END AS facility
        | FROM orders),
        |room_states AS (
        | SELECT 'room' AS level, department_id, room,
        |  CAST(NULL AS VARCHAR) AS bed, msg_id AS csn, status,
        |  CAST(msg_id % 2 = 1 AS INT) AS is_ready,
        |  CAST(NULL AS INT) AS is_bunk, CAST(NULL AS INT) AS in_census,
        |  CAST(NULL AS BIGINT) AS pool_count,
        |  contact_us AS valid_from_us,
        |  LEAD(contact_us) OVER (PARTITION BY department_id, room
        |    ORDER BY contact_us, msg_id) AS valid_until_us,
        |  CAST(NULL AS BIGINT) AS fac_count
        | FROM base),
        |pool AS (
        | SELECT department_id, room, bed, contact_us,
        |  MIN(msg_id) AS msg_id, MIN(msg_id) AS csn,
        |  arg_min(status, msg_id) AS status,
        |  arg_min(is_bunk, msg_id) AS is_bunk,
        |  arg_min(in_census, msg_id) AS in_census,
        |  COUNT(DISTINCT msg_id) AS pool_count
        | FROM base WHERE is_pool GROUP BY 1, 2, 3, 4),
        |nonpool AS (
        | SELECT department_id, room, bed, contact_us, msg_id,
        |  msg_id AS csn, status, is_bunk, in_census,
        |  CAST(NULL AS BIGINT) AS pool_count
        | FROM base WHERE NOT is_pool),
        |cand AS (
        | SELECT * FROM pool UNION ALL BY NAME SELECT * FROM nonpool),
        |bed_states AS (
        | SELECT *, LEAD(contact_us) OVER (
        |   PARTITION BY department_id, room, bed
        |   ORDER BY contact_us, msg_id) AS valid_until_us
        | FROM cand),
        |fac AS (
        | SELECT DISTINCT department_id, room, bed, csn, facility FROM (
        |  SELECT b.department_id, b.room, b.bed, p.csn, b.facility
        |  FROM base b JOIN pool p
        |    USING (department_id, room, bed, contact_us)
        |  WHERE b.is_pool AND b.facility IS NOT NULL
        |  UNION ALL
        |  SELECT department_id, room, bed, msg_id AS csn, facility
        |  FROM base WHERE NOT is_pool AND facility IS NOT NULL)),
        |fac_count AS (
        | SELECT department_id, room, bed, csn,
        |  COUNT(DISTINCT facility) AS fc
        | FROM fac GROUP BY 1, 2, 3, 4)
        |SELECT level, department_id, room, bed, csn, status, is_ready,
        | is_bunk, in_census, pool_count, valid_from_us, valid_until_us,
        | fac_count
        |FROM room_states
        |UNION ALL BY NAME
        |SELECT 'bed' AS level, b.department_id, b.room, b.bed, b.csn,
        | b.status, CAST(NULL AS INT) AS is_ready,
        | CAST(b.is_bunk AS INT) AS is_bunk,
        | CAST(b.in_census AS INT) AS in_census, b.pool_count,
        | b.contact_us AS valid_from_us, b.valid_until_us,
        | COALESCE(f.fc, 0) AS fac_count
        |FROM bed_states b LEFT JOIN fac_count f
        |  USING (department_id, room, bed, csn)
        |ORDER BY level, department_id, room, bed, csn""".stripMargin,

    // DSIR replay: see DsirOracleSql (shared with q101).
    "q92_dsir_weights" -> DsirOracleSql,

    // Incremental DSIR: per-doc scores are independent of batching and
    // the index freezes the same distributions the one-shot run
    // estimates, so the two-fold union replays as the ONE-SHOT check —
    // the q92 SQL verbatim.
    "q101_dsir_incr" -> DsirOracleSql,

    // Domain-cap replay: blocklist filter, then per-source row_number
    // ordered by poly-hash(doc_id|source) with doc_id tie-break.
    "q93_domain_cap" ->
      """WITH k AS (SELECT doc_id, source,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(
        |      string_split(CAST(doc_id AS VARCHAR) || '|' || source, ''),
        |      c -> CAST(ascii(c) AS BIGINT))),
        |    (h, c) -> (h * 31 + c) % 2147483647) AS hk
        | FROM documents WHERE source NOT IN ('src7', 'src13')),
        |r AS (SELECT doc_id, source, ROW_NUMBER() OVER (
        |  PARTITION BY source ORDER BY hk, doc_id) AS keep_rank FROM k)
        |SELECT doc_id, source, CAST(keep_rank AS BIGINT) AS keep_rank
        |FROM r WHERE keep_rank <= 10 ORDER BY doc_id""".stripMargin,

    // LM-quality replay: distinct (doc, token) counts, unigram frequency
    // table from the same pre-reduced stream, exact-int mean relative
    // frequency; bucket thresholds as literal constants.
    "q94_lm_quality" -> LmQualityOracleSql,

    // Persisted-LM fold: model counts additive + per-doc-pure scoring
    // => two-batch model fold + two-batch scoring union equals the
    // one-shot self-trained run VERBATIM.
    "q129_lm_incremental" -> LmQualityOracleSql,

    // Bigram-LM replay: adjacent-pair stream via lead(), bigram and
    // prefix counts from the same stream, exact-integer conditional-
    // probability ratios.
    "q103_lm_bigram" ->
      """WITH toks AS (SELECT doc_id,
        |  unnest(string_split_regex(trim(text), '\s+')) AS tok,
        |  unnest(range(len(string_split_regex(trim(text), '\s+')))) AS i
        | FROM documents),
        |bg AS (SELECT doc_id, tok AS w1,
        |  lead(tok, 1) OVER (PARTITION BY doc_id ORDER BY i) AS w2
        | FROM toks),
        |bgn AS (SELECT doc_id, w1, w2 FROM bg WHERE w2 IS NOT NULL),
        |bc AS (SELECT w1, w2, COUNT(*) AS c2 FROM bgn GROUP BY w1, w2),
        |uc AS (SELECT w1, COUNT(*) AS c1 FROM bgn GROUP BY w1),
        |agg AS (SELECT doc_id, COUNT(*) AS n_pairs,
        |  SUM((c2 * 10000) // c1) AS rsum
        | FROM bgn JOIN bc USING (w1, w2) JOIN uc USING (w1)
        | GROUP BY doc_id)
        |SELECT d.doc_id,
        | CAST(COALESCE(a.n_pairs, 0) AS BIGINT) AS n_pairs,
        | CAST(COALESCE(a.rsum, 0) AS BIGINT) AS rsum,
        | CASE WHEN COALESCE(a.n_pairs, 0) > 0
        |  THEN CAST(a.rsum AS DOUBLE) /
        |    CAST(CAST(a.n_pairs AS BIGINT) * 10000 AS DOUBLE)
        |  ELSE 0.0 END AS bigram_score,
        | CASE WHEN (CASE WHEN COALESCE(a.n_pairs, 0) > 0
        |    THEN CAST(a.rsum AS DOUBLE) /
        |      CAST(CAST(a.n_pairs AS BIGINT) * 10000 AS DOUBLE)
        |    ELSE 0.0 END) >= 0.0350 THEN 'head'
        |  WHEN (CASE WHEN COALESCE(a.n_pairs, 0) > 0
        |    THEN CAST(a.rsum AS DOUBLE) /
        |      CAST(CAST(a.n_pairs AS BIGINT) * 10000 AS DOUBLE)
        |    ELSE 0.0 END) >= 0.0340 THEN 'middle'
        |  ELSE 'tail' END AS lm_bucket
        |FROM documents d LEFT JOIN agg a USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // BPE-pair replay: word-frequency table, adjacent 2-char substrings
    // per word (skipping 1-char words), frequency-weighted pair counts.
    "q95_bpe_pairs" ->
      """WITH w AS (SELECT tok, COUNT(*) AS wc FROM (
        |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS tok
        |  FROM documents) GROUP BY tok),
        |px AS (SELECT substr(tok, CAST(i AS INT) + 1, 2) AS pair, wc
        | FROM (SELECT tok, wc, unnest(range(len(tok) - 1)) AS i
        |   FROM w WHERE len(tok) >= 2))
        |SELECT pair, CAST(SUM(wc) AS BIGINT) AS pair_count
        |FROM px GROUP BY pair ORDER BY pair""".stripMargin,

    // BPE replays: see bpeChainSql — the merge loop unrolled as
    // materialized CTE stages (pair counts → argmax → greedy rewrite).
    "q98_bpe_train" -> BpeTrainOracleSql,
    // incremental word-index training == the one-shot merge table
    "q116_bpe_incremental" -> BpeTrainOracleSql,
    "q104_bpe_encode" -> BpeEncodeOracleSql,
    "q106_bpe_token_counts" -> BpeTokenCountsOracleSql,
    "q107_bpe_encode_ids" -> BpeEncodeIdsOracleSql,

    // Packed-batch materialization: the id-encode replay laid
    // end-to-end per language stream, grouped into 512-token chunks.
    "q133_pack_emit" ->
      s"""WITH enc AS (SELECT * FROM ($BpeEncodeIdsOracleSql) t),
         |cnts AS (SELECT doc_id, COUNT(*) AS n FROM enc
         | GROUP BY doc_id),
         |offs AS (SELECT d.doc_id, d.lang AS stream,
         |  SUM(c.n) OVER (PARTITION BY d.lang ORDER BY d.doc_id
         |    ROWS UNBOUNDED PRECEDING) - c.n AS start_tok
         | FROM documents d JOIN cnts c USING (doc_id)),
         |g AS (SELECT o.stream, o.start_tok + e.pos AS gpos, e.token_id
         | FROM enc e JOIN offs o USING (doc_id))
         |SELECT stream, CAST(gpos // 512 AS BIGINT) AS chunk_idx,
         | CAST(COUNT(*) AS BIGINT) AS n_in_chunk,
         | string_agg(CAST(token_id AS VARCHAR), ',' ORDER BY gpos)
         |   AS token_ids
         |FROM g GROUP BY stream, chunk_idx
         |ORDER BY stream, chunk_idx""".stripMargin,

    // Shuffle-shard replay: global rank under the salted portable
    // hash, shards dealt round-robin by rank.
    "q134_shuffle_shard" ->
      s"""WITH h AS (SELECT doc_id,
         |  ${polyHashSql("CAST(doc_id AS VARCHAR) || '|shuffle'")} AS hh
         | FROM documents),
         |r AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY hh, doc_id)
         |  AS shuffle_pos FROM h)
         |SELECT doc_id, CAST(shuffle_pos AS BIGINT) AS shuffle_pos,
         | CAST((shuffle_pos - 1) % 8 AS BIGINT) AS shard
         |FROM r ORDER BY doc_id""".stripMargin,
    "q108_cm_sketch" -> CmSketchOracleSql,
    "q109_kmv_distinct" -> KmvOracleSql,
    // persisted sketch folds: merge laws make two-batch fold-union ==
    // one-shot, so the oracles are the one-shot replays VERBATIM
    "q124_cm_incremental" -> CmSketchOracleSql,
    "q125_kmv_incremental" -> KmvOracleSql,
    "q111_tokenize_pack" -> TokenizePackOracleSql,

    // CCNet resample replay: the q94 scoring chain -> bucket -> the
    // q85 slot predicate keyed on (doc_id || '|' || bucket).
    "q114_ccnet_resample" ->
      s"""WITH toks AS (SELECT doc_id,
         |  unnest(string_split_regex(trim(text), '\\s+')) AS tok
         | FROM documents),
         |dt AS (SELECT doc_id, tok, COUNT(*) AS k FROM toks
         | GROUP BY doc_id, tok),
         |f AS (SELECT tok, SUM(k) AS c FROM dt GROUP BY tok),
         |tt AS (SELECT SUM(k) AS t_total FROM dt),
         |agg AS (SELECT doc_id, SUM(k) AS n_tokens, SUM(k * c) AS freq_sum
         | FROM dt JOIN f USING (tok) GROUP BY doc_id),
         |bk AS (SELECT doc_id,
         |  CASE WHEN CAST(freq_sum AS DOUBLE) /
         |    CAST(CAST(n_tokens AS BIGINT) * CAST(t_total AS BIGINT)
         |      AS DOUBLE) >= 0.0334 THEN 'head'
         |   WHEN CAST(freq_sum AS DOUBLE) /
         |    CAST(CAST(n_tokens AS BIGINT) * CAST(t_total AS BIGINT)
         |      AS DOUBLE) >= 0.0333 THEN 'middle'
         |   ELSE 'tail' END AS lm_bucket
         | FROM agg, tt),
         |sl AS (SELECT d.doc_id, d.lang, bk.lm_bucket,
         |  ${polyHashSql("CAST(d.doc_id AS VARCHAR) || '|' || bk.lm_bucket")}
         |    % 10000 AS slot
         | FROM documents d JOIN bk USING (doc_id))
         |SELECT doc_id, lang, lm_bucket FROM sl
         |WHERE slot < (CASE lm_bucket WHEN 'head' THEN 10000
         |  WHEN 'middle' THEN 5000 ELSE 500 END)
         |ORDER BY doc_id""".stripMargin,

    // Span-cut replay: the q80 window-hash chain -> flagged window
    // starts -> positional anti-join of covered token indices ->
    // rejoin the survivors in order.
    "q117_cut_dup_spans" ->
      """WITH base AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  string_split_regex(trim(text), '\s+') AS ws FROM documents),
        |wins AS (SELECT doc_id,
        |  unnest(range(1, len(ws) - 6)) - 1 AS win_idx,
        |  unnest(list_transform(range(1, len(ws) - 6),
        |    i -> array_to_string(ws[i:i + 7], ' '))) AS win
        | FROM base WHERE len(ws) >= 8),
        |hashed AS (SELECT doc_id, win_idx,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(string_split(win, ''),
        |      c -> CAST(ascii(c) AS BIGINT))),
        |    (h, c) -> (h * 31 + c) % 2147483647) AS window_hash
        | FROM wins),
        |shared AS (SELECT window_hash FROM hashed
        | GROUP BY 1 HAVING COUNT(DISTINCT doc_id) > 1),
        |flg AS (SELECT DISTINCT h.doc_id, h.win_idx
        | FROM hashed h JOIN shared s USING (window_hash)),
        |toks AS (SELECT doc_id, CAST(i AS BIGINT) AS i, ws[CAST(i AS INT) + 1] AS tok
        | FROM (SELECT doc_id, ws, unnest(range(len(ws))) AS i FROM base)),
        |kept AS (SELECT t.doc_id, t.i, t.tok FROM toks t
        | WHERE NOT EXISTS (SELECT 1 FROM flg f
        |   WHERE f.doc_id = t.doc_id AND t.i >= f.win_idx
        |     AND t.i < f.win_idx + 8)),
        |agg AS (SELECT doc_id, COUNT(*) AS n_kept,
        |  string_agg(tok, ' ' ORDER BY i) AS clean_text
        | FROM kept GROUP BY doc_id)
        |SELECT b.doc_id, CAST(len(b.ws) AS BIGINT) AS n_tokens,
        | CAST(len(b.ws) - COALESCE(a.n_kept, 0) AS BIGINT) AS n_removed,
        | COALESCE(a.clean_text, '') AS clean_text
        |FROM base b LEFT JOIN agg a USING (doc_id)
        |ORDER BY b.doc_id""".stripMargin,

    // Hash-embed + search replay: signed bucket counts -> dense list
    // -> rounded cosine top-3 (the q23 ranking convention).
    "q121_hash_embed_search" ->
      s"""WITH toks AS (SELECT doc_id,
         |   unnest(string_split_regex(trim(text), '\\s+')) AS tok
         | FROM documents),
         |f AS (SELECT doc_id,
         |   ${polyHashSql("tok")} % 32 AS b,
         |   CASE WHEN ${polyHashSql("tok || '|sign'")} % 2 = 0
         |     THEN 1 ELSE -1 END AS sgn
         | FROM toks),
         |agg AS (SELECT doc_id, b, SUM(sgn) AS c FROM f
         | GROUP BY doc_id, b),
         |dense AS (SELECT d.doc_id, i.b, COALESCE(a.c, 0) AS c
         | FROM (SELECT DISTINCT doc_id FROM documents) d
         | CROSS JOIN (SELECT unnest(range(32)) AS b) i
         | LEFT JOIN agg a ON a.doc_id = d.doc_id AND a.b = i.b),
         |v AS (SELECT doc_id, list(CAST(c AS DOUBLE) ORDER BY b) AS v
         | FROM dense GROUP BY doc_id
         | HAVING SUM(c * c) > 0),
         |sx AS (SELECT q.doc_id AS query_id, c.doc_id AS neighbor_id,
         |  round(list_cosine_similarity(q.v, c.v), 4) + 0.0 AS sim
         | FROM v q JOIN v c ON q.doc_id <> c.doc_id
         | WHERE q.doc_id % 50 = 0),
         |r AS (SELECT query_id, neighbor_id, sim, row_number() OVER
         |  (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
         | FROM sx)
         |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, sim
         |FROM r WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,

    // Salted-join replay: the PLAIN join — salting must be invisible
    // in the result multiset.
    "q119_salted_join" ->
      """SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_orders,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |   AS revenue
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    // Nearest-rank quantile replay: exact integer ceil((n·q)/10⁴).
    "q120_group_quantiles" -> GroupQuantilesOracleSql,

    // Persisted-histogram fold: counts add, so the folded quantiles
    // replay as the one-shot q120 VERBATIM.
    "q132_quantiles_incremental" -> GroupQuantilesOracleSql,

    // Profile replay: string-cast per-column stream; nulls/min/max
    // directly, distinct via the salted KMV estimate (k = 64).
    "q118_profile" -> ProfileOracleSql,

    // Persisted-profile fold: counts add, min/max compose, KMV minima
    // min-union => folded profile == one-shot VERBATIM.
    "q128_profile_incremental" -> ProfileOracleSql,

    // Split replay: cumulative hash-slot ranges over the portable
    // poly-hash of (doc_id || '|split').
    "q113_split_assign" ->
      s"""SELECT doc_id, lang,
         | CASE WHEN ${polyHashSql("CAST(doc_id AS VARCHAR) || '|split'")}
         |     % 10000 < 8000 THEN 'train'
         |   WHEN ${polyHashSql("CAST(doc_id AS VARCHAR) || '|split'")}
         |     % 10000 < 9000 THEN 'val'
         |   ELSE 'test' END AS split
         |FROM documents ORDER BY doc_id""".stripMargin,

    // PQ replay: per-subspace portable Lloyd's (rounded-L2 argmin
    // assignment, exact-integer centroid means — the q90 pattern ×4),
    // encode = final assignment per subspace, ADC = distance-table
    // joins summed in subspace order. Programmatically unrolled.
    "q97_pq_search" -> {
      val m = 4; val sub = 16; val k = 8; val iters = 2
      def sq(e: String, c: String) =
        s"round(list_sum(list_transform(range(len($e)), " +
          s"j -> ($e[j+1] - $c[j+1]) * ($e[j+1] - $c[j+1]))), 4) + 0.0"
      def assign(mi: Int, centsCte: String, out: String) =
        s"""$out AS (SELECT vec_id, v, cid FROM (
           |  SELECT e.vec_id, e.v, c.cid, row_number() OVER (
           |    PARTITION BY e.vec_id
           |    ORDER BY ${sq("e.v", "c.cv")} ASC, c.cid) AS rn
           |  FROM s$mi e CROSS JOIN $centsCte c) WHERE rn = 1)""".stripMargin
      def update(prevCents: String, asg: String, out: String) =
        s"""${out}n AS (SELECT cid,
           |  list(CAST(s AS DOUBLE) / (n * 10000.0) ORDER BY i) AS cv
           | FROM (SELECT cid, i,
           |    SUM(CAST(floor(x * 10000) AS BIGINT)) AS s, COUNT(*) AS n
           |   FROM (SELECT cid, unnest(v) AS x,
           |      unnest(range(len(v))) AS i FROM $asg)
           |   GROUP BY cid, i) GROUP BY cid),
           |$out AS (SELECT p.cid, COALESCE(nn.cv, p.cv) AS cv
           | FROM $prevCents p LEFT JOIN ${out}n nn USING (cid))"""
          .stripMargin
      val subCtes = (0 until m).map(mi =>
        s"s$mi AS (SELECT vec_id, v[${mi * sub + 1}:${(mi + 1) * sub}]" +
          s" AS v FROM ex)").mkString(",\n")
      val initCtes = (0 until m).map(mi =>
        s"""c${mi}_0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1
           |  AS cid, v AS cv
           | FROM (SELECT vec_id, v FROM s$mi ORDER BY vec_id LIMIT $k))"""
          .stripMargin).mkString(",\n")
      val loops = (0 until m).map { mi =>
        (1 to iters).map(i =>
          assign(mi, s"c${mi}_${i - 1}", s"a${mi}_$i") + ",\n" +
            update(s"c${mi}_${i - 1}", s"a${mi}_$i", s"c${mi}_$i"))
          .mkString(",\n")
      }.mkString(",\n")
      val finals = (0 until m).map(mi =>
        assign(mi, s"c${mi}_$iters", s"af$mi")).mkString(",\n")
      val codesJoin = (1 until m)
        .map(mi => s"JOIN af$mi a$mi USING (vec_id)").mkString(" ")
      val qdCtes = (0 until m).map(mi =>
        s"""qs$mi AS (SELECT vec_id AS query_id, v FROM s$mi
           |  WHERE vec_id % 50 = 0),
           |qd$mi AS (SELECT q.query_id, c.cid, ${sq("q.v", "c.cv")} AS d
           | FROM qs$mi q CROSS JOIN c${mi}_$iters c)""".stripMargin)
        .mkString(",\n")
      val qdJoins = (1 until m).map(mi =>
        s"JOIN qd$mi ON qd$mi.cid = cd.k$mi" +
          s" AND qd$mi.query_id = qd0.query_id").mkString("\n ")
      materializeCtes(s"""WITH ex AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings),
         |$subCtes,
         |$initCtes,
         |$loops,
         |$finals,
         |codes AS (SELECT a0.vec_id,
         |  ${(0 until m).map(mi => s"a$mi.cid AS k$mi").mkString(", ")}
         | FROM af0 a0 $codesJoin),
         |$qdCtes,
         |scored AS (SELECT qd0.query_id, cd.vec_id AS neighbor_id,
         |  round(${(0 until m).map(mi => s"qd$mi.d").mkString(" + ")}, 4)
         |    + 0.0 AS adist
         | FROM codes cd
         | JOIN qd0 ON qd0.cid = cd.k0
         | $qdJoins
         | WHERE qd0.query_id <> cd.vec_id)
         |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, adist
         |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
         |   ORDER BY adist, neighbor_id) AS rank FROM scored)
         |WHERE rank <= 5 ORDER BY query_id, rank"""
        .stripMargin)
    },

    // Curation-chain replay: q93's cap → q96's mix (counts from the
    // capped set) → q92's DSIR (distributions from the mixed set) →
    // q94's LM score (frequencies from the DSIR survivors) → q87's
    // pack. Exact-integer at every gate.
    "q100_curation_pipeline" ->
      """WITH capped AS (SELECT doc_id, lang, source, text FROM (
        |  SELECT d.*, ROW_NUMBER() OVER (PARTITION BY source ORDER BY
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(
        |        string_split(CAST(doc_id AS VARCHAR) || '|' || source, ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |      (h, c) -> (h * 31 + c) % 2147483647), doc_id) AS rk
        |  FROM documents d WHERE source NOT IN ('src7', 'src13'))
        | WHERE rk <= 15),
        |tgt AS (SELECT * FROM (VALUES ('en', 5000), ('fr', 2000),
        |  ('de', 1500), ('es', 1000), ('zh', 500)) t(lang, share10k)),
        |c AS (SELECT lang, COUNT(*) AS cs FROM capped GROUP BY lang),
        |j AS (SELECT c.lang, cs, share10k FROM c JOIN tgt USING (lang)),
        |n AS (SELECT MIN((cs * 10000) // share10k) AS nn FROM j),
        |caps AS (SELECT lang, (nn * share10k) // 10000 AS k
        | FROM j, n),
        |mixed AS (SELECT doc_id, lang, source, text FROM (
        |  SELECT d.*, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(
        |        string_split(CAST(doc_id AS VARCHAR) || '|' || lang, ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |      (h, c) -> (h * 31 + c) % 2147483647), doc_id) AS mr
        |  FROM capped d) r JOIN caps USING (lang) WHERE mr <= k),
        |toks AS (SELECT doc_id,
        |  unnest(string_split_regex(trim(text), '\s+')) AS tok,
        |  unnest(range(len(string_split_regex(trim(text), '\s+')))) AS i
        | FROM mixed),
        |grams AS (
        | SELECT doc_id, tok AS s FROM toks
        | UNION ALL
        | SELECT doc_id,
        |  tok || ' ' || lead(tok, 1) OVER (PARTITION BY doc_id ORDER BY i)
        |    AS s FROM toks),
        |feats AS (SELECT doc_id,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(string_split(s, ''), c -> CAST(ascii(c) AS BIGINT))),
        |    (h, c) -> (h * 31 + c) % 2147483647) % 65536 AS b
        | FROM grams WHERE s IS NOT NULL),
        |p AS (SELECT b, COUNT(*) AS pc FROM feats GROUP BY b),
        |q AS (SELECT b, COUNT(*) AS qc FROM feats f
        |  JOIN mixed d USING (doc_id) WHERE d.lang = 'en' GROUP BY b),
        |bt AS (SELECT p.b,
        |  ((COALESCE(q.qc, 0) + 1) * 1000000) // (p.pc + 1) AS contrib
        | FROM p LEFT JOIN q ON p.b = q.b),
        |ds AS (SELECT doc_id, COUNT(*) AS n_feats, SUM(contrib) AS cs2
        | FROM feats JOIN bt USING (b) GROUP BY doc_id),
        |sel AS (SELECT m.doc_id, m.lang, m.source, m.text
        | FROM mixed m JOIN ds USING (doc_id)
        | WHERE CAST(cs2 AS DOUBLE) / CAST(n_feats * 1000000 AS DOUBLE)
        |   >= 0.48),
        |t2 AS (SELECT doc_id,
        |  unnest(string_split_regex(trim(text), '\s+')) AS tok FROM sel),
        |dt AS (SELECT doc_id, tok, COUNT(*) AS kk FROM t2
        | GROUP BY doc_id, tok),
        |f AS (SELECT tok, SUM(kk) AS cc FROM dt GROUP BY tok),
        |tt AS (SELECT SUM(kk) AS t_total FROM dt),
        |lm AS (SELECT doc_id, SUM(kk) AS nn2, SUM(kk * cc) AS fs
        | FROM dt JOIN f USING (tok) GROUP BY doc_id),
        |kept AS (SELECT s2.* FROM sel s2 JOIN lm USING (doc_id), tt
        | WHERE CAST(fs AS DOUBLE) /
        |   CAST(CAST(nn2 AS BIGINT) * CAST(t_total AS BIGINT) AS DOUBLE)
        |   >= 0.0332),
        |n3 AS (SELECT source AS stream, doc_id,
        |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
        |    AS n_tokens
        | FROM kept),
        |c3 AS (SELECT stream, doc_id, n_tokens,
        |  CAST(SUM(n_tokens) OVER (PARTITION BY stream ORDER BY doc_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS end_tok FROM n3)
        |SELECT stream, doc_id, n_tokens, end_tok,
        | end_tok - n_tokens AS start_tok,
        | CAST((end_tok - n_tokens) // 2048 AS BIGINT) AS first_chunk,
        | CAST((end_tok - 1) // 2048 AS BIGINT) AS last_chunk
        |FROM c3 ORDER BY stream, doc_id""".stripMargin,

    // IVF-PQ replay: see IvfPqOracleSql (shared with q102).
    "q99_ivfpq_search" -> ivfPqOracleSql,

    // Recall replay: the shared IVF-PQ chain's `scored` vs an exact
    // rounded-L2 full scan, per-query intersection counts.
    "q115_ann_recall" -> {
      def sq(e: String, c: String) =
        s"round(list_sum(list_transform(range(len($e)), " +
          s"j -> ($e[j+1] - $c[j+1]) * ($e[j+1] - $c[j+1]))), 4) + 0.0"
      materializeCtes(s"""WITH $ivfPqChainSql,
         |approx AS (SELECT query_id, neighbor_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY adist, neighbor_id) AS rank FROM scored)
         | WHERE rank <= 5),
         |exact AS (SELECT query_id, neighbor_id FROM (
         |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY ${sq("q.v", "e.v")} ASC, e.vec_id) AS rank
         |  FROM ex q JOIN ex e ON e.vec_id <> q.vec_id
         |  WHERE q.vec_id % 50 = 0) WHERE rank <= 5),
         |hits AS (SELECT a.query_id, COUNT(*) AS n_hit
         | FROM approx a JOIN exact x ON a.query_id = x.query_id
         |   AND a.neighbor_id = x.neighbor_id GROUP BY a.query_id)
         |SELECT qq.query_id, CAST(5 AS BIGINT) AS k,
         | CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
         | CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / 5.0 AS recall
         |FROM (SELECT DISTINCT query_id FROM exact) qq
         |LEFT JOIN hits h USING (query_id) ORDER BY query_id"""
        .stripMargin)
    },

    // Persisted IVF-PQ index: codebooks are frozen at build and per-row
    // codes are batching-independent, so the two-batch append + pruned
    // query replays as the in-memory q99 check verbatim.
    "q102_ivfpq_persisted" -> ivfPqOracleSql,

    // ADC top-R → exact re-rank over true vectors.
    "q131_ivfpq_refined" -> IvfPqRefinedOracleSql,

    // Sample-trained quantizers, full encode.
    "q136_ivfpq_sampled" -> IvfPqSampledOracleSql,

    // Streamed ingest + compaction: invisible in the search result.
    "q137_retrieval_streamed" -> ivfPqOracleSql,

    // k-NN classification: exact distances, votes, tie-breaks.
    "q147_knn_classify" -> {
      def sq(e: String, c: String) =
        s"round(list_sum(list_transform(range(len($e)), " +
          s"j -> ($e[j+1] - $c[j+1]) * ($e[j+1] - $c[j+1]))), 4) + 0.0"
      s"""WITH q AS (SELECT vec_id AS query_id, label AS tl,
         |  CAST(embedding AS DOUBLE[]) AS qv FROM embeddings
         | WHERE vec_id % 50 = 0),
         |c AS (SELECT vec_id AS neighbor_id, label AS nl,
         |  CAST(embedding AS DOUBLE[]) AS cv FROM embeddings
         | WHERE vec_id % 50 <> 0),
         |nn AS (SELECT query_id, nl FROM (
         |  SELECT query_id, nl, row_number() OVER (
         |    PARTITION BY query_id
         |    ORDER BY ${sq("qv", "cv")} ASC, neighbor_id) AS rank
         |  FROM q, c) WHERE rank <= 5),
         |v AS (SELECT query_id, nl, COUNT(*) AS votes FROM nn
         | GROUP BY query_id, nl),
         |p AS (SELECT query_id, nl, votes FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY votes DESC, nl) AS rn FROM v) WHERE rn = 1)
         |SELECT p.query_id, CAST(q.tl AS BIGINT) AS true_label,
         | CAST(p.nl AS BIGINT) AS pred_label,
         | CAST(p.votes AS BIGINT) AS votes,
         | (p.nl = q.tl) AS correct
         |FROM p JOIN q USING (query_id)
         |ORDER BY p.query_id""".stripMargin
    },

    // Bloom membership gate: positions + all-k test replayed exactly.
    "q138_bloom_decon" -> BloomDeconOracleSql,

    // Folded bloom layers OR into the one-shot bit set — same SQL.
    "q139_bloom_incremental" -> BloomDeconOracleSql,

    // BM25 lexical retrieval: integer idf/saturation replayed exactly.
    "q140_bm25_search" -> Bm25OracleSql,

    // Folded postings layers ARE the one-shot table — same SQL.
    "q141_bm25_incremental" -> Bm25OracleSql,

    // Hybrid RRF: both rank lists + the integer fusion replayed.
    "q148_hybrid_rrf" -> HybridRrfOracleSql,

    // Streamed postings ingest answers as the one-shot — same SQL.
    "q149_bm25_streamed" -> Bm25OracleSql,

    // Contrastive triples: the shared LSH chain (capped, 0.25) for
    // positives + the salted hash ring successor for negatives (ring
    // over non-null-text docs — what the positive side can pair);
    // degenerate negative==anchor rows (2-doc corpora) are dropped.
    "q151_contrastive_triples" ->
      ("WITH " + minhashLshChainSql(capped = true) + ",\n" +
        s"""pos AS (SELECT doc_a AS anchor, doc_b AS positive,
           |  est_jaccard FROM sc WHERE est_jaccard >= 0.25),
           |ring AS (SELECT doc_id,
           |  ROW_NUMBER() OVER (ORDER BY
           |    ${polyHashSql("CAST(doc_id AS VARCHAR) || '|neg'")},
           |    doc_id) AS pos, COUNT(*) OVER () AS nn
           | FROM documents WHERE text IS NOT NULL),
           |s1 AS (SELECT r.doc_id AS anchor, r2.doc_id AS neg1
           | FROM ring r JOIN ring r2 ON r2.pos = r.pos % r.nn + 1),
           |s2 AS (SELECT r.doc_id AS anchor, r2.doc_id AS neg2
           | FROM ring r JOIN ring r2 ON r2.pos = (r.pos + 1) % r.nn + 1)
           |SELECT p.anchor, p.positive,
           | CASE WHEN s1.neg1 = p.positive THEN s2.neg2 ELSE s1.neg1 END
           |   AS negative, p.est_jaccard
           |FROM pos p JOIN s1 USING (anchor) JOIN s2 USING (anchor)
           |WHERE (CASE WHEN s1.neg1 = p.positive THEN s2.neg2
           |   ELSE s1.neg1 END) <> p.anchor
           |ORDER BY p.anchor, p.positive""".stripMargin),

    // Heavy hitters: candidates + CM probes + rank replayed exactly.
    "q142_heavy_hitters" -> heavyHittersOracleSql(Seq("TRUE")),

    // Folded state: per-batch top-C sets replayed, CM counters add.
    "q143_hh_incremental" -> heavyHittersOracleSql(
      Seq("doc_id % 2 = 0", "doc_id % 2 = 1")),

    // Bottom-k sample: tag + rank replayed exactly.
    "q144_bottomk_sample" -> BottomKOracleSql,

    // Min-union of folded layers IS the one-shot bottom-k — same SQL.
    "q145_bottomk_incremental" -> BottomKOracleSql,

    // Text → retrieval vertical: the q121 embed chain feeding the
    // shared IVF-PQ replay (sub=8 for dim 32); the persisted index's
    // append → compact → append lifecycle must be invisible in the
    // top-k.
    "q122_text_retrieval" -> TextRetrievalOracleSql,

    // Mixture-rebalancing replay: integer cap arithmetic (N = the
    // largest total hitting every share; k_s = N*share//10000), then
    // per-stratum hash-ranked selection.
    "q96_mix_to_target" -> MixOracleSql,

    // persisted-index mixture: folding batches then selecting must
    // equal the one-shot q96 selection — same oracle, verbatim
    "q105_mix_incremental" -> MixOracleSql,

    // Full curation recipe: batch folds (q126) and the Structured
    // Streaming front end (q127) against the SAME one-shot replay —
    // fold/stream boundary irrelevance is the oracle's claim.
    "q126_curation_full" -> CurationFullOracleSql,

    // The full recipe behind the BLOOM decon gate — membership test
    // replayed inside the chain.
    "q146_curation_bloom" -> CurationBloomOracleSql,

    // Selection → split → train shards, one replay end-to-end.
    "q150_release_manifest" -> ReleaseManifestOracleSql,
    "q127_curation_streamed" -> CurationFullOracleSql,
    "q135_curation_report" -> CurationReportOracleSql,

    // Composed incremental curation: one-shot replay of the chain —
    // decon gate (q84 core, 5-shingles, 5% — 3-shingles over the
    // synthetic corpus's 31-word vocab overlap corpus-wide and gate
    // out everything at sf0.1) → DSIR top-40% cut by
    // importance score (q92 core, frozen model from the full corpus;
    // scores are exact-int ÷ exact-int so the doubles — and the order
    // they induce — are identical in both engines) → exact mixture
    // over the survivors (q96 core with survivor counts).
    "q110_incremental_curation" ->
      """WITH dtk AS (SELECT doc_id,
        |  unnest(string_split_regex(trim(text), '\s+')) AS tok,
        |  unnest(range(len(string_split_regex(trim(text), '\s+')))) AS i
        | FROM documents),
        |shr AS (SELECT doc_id,
        |  tok || ' ' || lead(tok, 1) OVER (PARTITION BY doc_id ORDER BY i)
        |      || ' ' || lead(tok, 2) OVER (PARTITION BY doc_id ORDER BY i)
        |      || ' ' || lead(tok, 3) OVER (PARTITION BY doc_id ORDER BY i)
        |      || ' ' || lead(tok, 4) OVER (PARTITION BY doc_id ORDER BY i)
        |    AS s FROM dtk),
        |hs AS (SELECT DISTINCT doc_id,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(string_split(s, ''), c -> CAST(ascii(c) AS BIGINT))),
        |    (h, c) -> (h * 31 + c) % 2147483647) AS h
        | FROM shr WHERE s IS NOT NULL),
        |bh AS (SELECT DISTINCT h FROM hs WHERE doc_id % 20 = 0),
        |dagg AS (SELECT t.doc_id, COUNT(*) AS n_sh,
        |   SUM(CASE WHEN b.h IS NOT NULL THEN 1 ELSE 0 END) AS n_ov
        |  FROM hs t LEFT JOIN bh b ON t.h = b.h
        |  WHERE t.doc_id % 20 <> 0 GROUP BY t.doc_id),
        |kept1 AS (SELECT d.doc_id, d.lang FROM documents d
        |  LEFT JOIN dagg a USING (doc_id)
        |  WHERE d.doc_id % 20 <> 0 AND NOT (
        |    CASE WHEN COALESCE(a.n_sh, 0) > 0
        |      THEN CAST(a.n_ov AS DOUBLE) / a.n_sh ELSE 0.0 END >= 0.05)),
        |grams AS (
        | SELECT doc_id, tok AS s FROM dtk
        | UNION ALL
        | SELECT doc_id,
        |  tok || ' ' || lead(tok, 1) OVER (PARTITION BY doc_id ORDER BY i)
        |    AS s FROM dtk),
        |feats AS (SELECT doc_id,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(string_split(s, ''), c -> CAST(ascii(c) AS BIGINT))),
        |    (h, c) -> (h * 31 + c) % 2147483647) % 65536 AS b
        | FROM grams WHERE s IS NOT NULL),
        |p AS (SELECT b, COUNT(*) AS pc FROM feats GROUP BY b),
        |q AS (SELECT b, COUNT(*) AS qc FROM feats f
        |  JOIN documents d USING (doc_id) WHERE d.lang = 'en' GROUP BY b),
        |bt AS (SELECT p.b,
        |  ((COALESCE(q.qc, 0) + 1) * 1000000) // (p.pc + 1) AS contrib
        | FROM p LEFT JOIN q ON p.b = q.b),
        |sagg AS (SELECT doc_id, COUNT(*) AS n_feats, SUM(contrib) AS cs
        | FROM feats JOIN bt USING (b) GROUP BY doc_id),
        |scored AS (SELECT k.doc_id, k.lang,
        |   CAST(cs AS DOUBLE) / CAST(n_feats * 1000000 AS DOUBLE) AS sc
        |  FROM kept1 k JOIN sagg s USING (doc_id)),
        |keepn AS (SELECT (COUNT(*) * 4000) // 10000 AS kp FROM scored),
        |kept2 AS (SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang,
        |    ROW_NUMBER() OVER (ORDER BY sc DESC, doc_id) AS ir
        |  FROM scored), keepn WHERE ir <= kp),
        |tgt AS (SELECT * FROM (VALUES ('en', 8000), ('es', 1500),
        |  ('de', 500)) t(lang, share10k)),
        |c AS (SELECT lang, COUNT(*) AS cs FROM kept2 GROUP BY lang),
        |j AS (SELECT c.lang, cs, share10k FROM c JOIN tgt USING (lang)),
        |n AS (SELECT MIN((cs * 10000) // share10k) AS nn FROM j),
        |caps AS (SELECT lang, (nn * share10k) // 10000 AS k FROM j, n),
        |r AS (SELECT doc_id, lang,
        |  ROW_NUMBER() OVER (PARTITION BY lang ORDER BY
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(
        |        string_split(CAST(doc_id AS VARCHAR) || '|' || lang, ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |      (h, c) -> (h * 31 + c) % 2147483647), doc_id) AS mix_rank
        | FROM kept2)
        |SELECT doc_id, lang, CAST(mix_rank AS BIGINT) AS mix_rank
        |FROM r JOIN caps USING (lang)
        |WHERE mix_rank <= k ORDER BY doc_id""".stripMargin,

    // Boilerplate-cut replay (q117's chain with a 3-token window and
    // the df > 5 corpus-frequency bar) — shared VERBATIM by q153: the
    // per-batch distinct-df partials of doc-disjoint folds ADD, so
    // cutting from the summed index equals the one-shot cut.
    "q152_cut_boilerplate" -> CutBoilerplateOracleSql,
    "q153_boilerplate_incremental" -> CutBoilerplateOracleSql,

    // Decode round-trip: the oracle never replays the tokenizer — the
    // LAW is decode(encodeIds(mark(text))) == whitespace-normalized
    // text, so the expected output is just the normalized source.
    // Restricted to docs with ≥1 token: bpeDecode emits no row for an
    // empty id stream (documented), so an empty/whitespace-only doc in
    // a future fixture must not fail the gate on row count.
    "q154_bpe_decode" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id,
        | array_to_string(string_split_regex(trim(text), '\s+'), ' ')
        |   AS decoded
        |FROM documents
        |WHERE len(list_filter(string_split_regex(trim(text), '\s+'),
        |  x -> len(x) > 0)) > 0
        |ORDER BY doc_id""".stripMargin,

    // Int8-quantization replay: per-vector floor(x·127 / max|x|)
    // quantization (every step IEEE-exact), integer dots carried as
    // exact doubles, the q23 rounded-cosine ranking convention.
    "q155_quantized_search" ->
      """WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |qv AS (SELECT vec_id,
        |  list_transform(v, x -> floor((x * 127) /
        |    list_max(list_transform(v, y -> abs(y))))) AS q
        | FROM base
        | WHERE list_max(list_transform(v, y -> abs(y))) > 0),
        |n AS (SELECT vec_id, q,
        |  sqrt(list_dot_product(q, q)) AS nrm FROM qv),
        |sx AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        |  round(list_dot_product(a.q, b.q) / (a.nrm * b.nrm), 4) + 0.0
        |    AS sim
        | FROM n a JOIN n b ON a.vec_id <> b.vec_id
        | WHERE a.vec_id < 8),
        |r AS (SELECT query_id, neighbor_id, sim, row_number() OVER
        |  (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
        | FROM sx)
        |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, sim
        |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // Temperature-mix replay: per-source token sums -> integer
    // sqrt weights -> budget caps -> the q96 hash-rank selection.
    "q156_temperature_mix" -> TemperatureMixOracleSql,

    // Persisted index folds + re-derived caps equal the one-shot
    // selection (token counts are per-doc pure and ADD across
    // doc-disjoint folds) — verbatim q156 oracle.
    "q175_temperature_incremental" -> TemperatureMixOracleSql,

    // GIF decode replay: every frame of a media is one solid gray, so
    // the dominant luminance bin is the frame-count argmax over
    // ((gray + 17f) % 256) // 32, lowest bin breaking ties (tied
    // integer counts normalize to tied floats; array_position finds
    // the first).
    "q176_gif_frames" ->
      s"""WITH e AS ($EventsUsSql),
         |gm AS (SELECT CAST(event_id AS BIGINT) AS media_id,
         |  8 + event_id % 16 AS width, 8 + event_id % 5 AS height,
         |  1 + event_id % 4 AS nf, event_id % 256 AS gray
         | FROM e WHERE event_id % 50 = 0),
         |gc AS (SELECT media_id, width, height, nf,
         |  list_transform(range(8), b -> len(list_filter(range(nf),
         |    f -> ((gray + 17 * f) % 256) // 32 = b))) AS cl
         | FROM gm)
         |SELECT media_id, CAST(width AS BIGINT) AS width,
         | CAST(height AS BIGINT) AS height,
         | CAST(nf AS BIGINT) AS n_frames,
         | CAST(list_position(cl, list_max(cl)) - 1 AS BIGINT) AS top_bin
         |FROM gc ORDER BY media_id""".stripMargin,



    // Quality-funnel replay: the shared rule chain (also the q162
    // funnel block, f-prefixed there) — thresholds live in ONE place.
    "q157_quality_funnel" ->
      ("WITH " + funnelRulesSql("") + "\n" +
        """SELECT doc_id, n_tokens, lang_guess, r_len, r_avg_len,
          | r_stop, r_rep, r_lang, keep
          |FROM rules ORDER BY doc_id""".stripMargin),

    // Per-source percentile replay: q94's LM score chain -> per-source
    // counts -> exact-integer caps -> (score DESC, doc_id) rank.
    "q158_stratified_quality" ->
      """WITH toks AS (SELECT doc_id,
        |  unnest(string_split_regex(trim(text), '\s+')) AS tok
        | FROM documents),
        |dt AS (SELECT doc_id, tok, COUNT(*) AS k FROM toks
        | GROUP BY doc_id, tok),
        |f AS (SELECT tok, SUM(k) AS c FROM dt GROUP BY tok),
        |tt AS (SELECT SUM(k) AS t_total FROM dt),
        |agg AS (SELECT doc_id, SUM(k) AS n_tokens, SUM(k * c) AS freq_sum
        | FROM dt JOIN f USING (tok) GROUP BY doc_id),
        |sc AS (SELECT d.doc_id, d.source,
        |  CAST(freq_sum AS DOUBLE) /
        |    CAST(CAST(n_tokens AS BIGINT) * CAST(t_total AS BIGINT)
        |      AS DOUBLE) AS score
        | FROM documents d JOIN agg USING (doc_id), tt),
        |cnt AS (SELECT source, COUNT(*) AS cs FROM sc GROUP BY source),
        |caps AS (SELECT source, (cs * 4000) // 10000 AS k FROM cnt),
        |r AS (SELECT doc_id, source,
        |  ROW_NUMBER() OVER (PARTITION BY source
        |    ORDER BY score DESC, doc_id) AS q_rank
        | FROM sc)
        |SELECT doc_id, source, CAST(q_rank AS BIGINT) AS q_rank
        |FROM r JOIN caps USING (source)
        |WHERE q_rank <= k ORDER BY doc_id""".stripMargin,

    // IVF-SQ8 replay: q78's probe convention over the q155 quantized
    // lists — prune to probed labels, quantized-cosine rank.
    "q159_ivf_sq8" -> IvfSq8OracleSql,

    // Persisted SQ8 codes answer verbatim-equal to the in-memory
    // q159 search (per-vector quantization is batching-independent;
    // compaction preserves rows and partition values).
    "q160_sq8_persisted" -> IvfSq8OracleSql,

    // A loaded tokenizer artifact encodes bit-identically to the
    // in-memory one — verbatim q107 oracle.
    "q161_tokenizer_artifact" -> BpeEncodeIdsOracleSql,

    // The funnel-first full curation recipe — one replay of the whole
    // extended chain.
    "q162_curation_funnel_gated" -> CurationFunnelOracleSql,

    // Chunk replay: the shared chunk CTEs (also the q164/q165 front —
    // the 16/12 window constants live in ONE builder).
    "q163_chunk_windows" ->
      (s"WITH ${chunkCtesSql("")}\n" +
        """SELECT doc_id, chunk_idx, start_tok,
          | CAST(len(chunk) AS BIGINT) AS n_toks,
          | array_to_string(chunk, ' ') AS chunk_text
          |FROM ct ORDER BY doc_id, chunk_idx""".stripMargin),

    // RAG-vertical replay: q163's chunks → the q121 signed-bucket
    // embedding per chunk → the q155 floor quantization → modular
    // coarse probe → integer-dot cosine rank. Shared VERBATIM by
    // q165 (the same chain through the streaming engine).
    "q164_rag_vertical" -> RagVerticalOracleSql,

    // The streamed RAG index answers under the one-shot replay —
    // micro-batch boundaries irrelevant by per-doc/chunk/vector purity.
    "q165_rag_streamed" -> RagVerticalOracleSql,

    // Release-diff replay: the q113 hash-range splits + the q134
    // rank-shards built for BOTH releases, full-outer diffed.
    "q166_release_diff" -> {
      def manifest(p: String, pred: String) =
        s"""${p}dd AS (SELECT CAST(doc_id AS BIGINT) AS doc_id
           | FROM documents WHERE $pred),
           |${p}spl AS (SELECT doc_id,
           |  CASE WHEN ${polyHashSql("CAST(doc_id AS VARCHAR) || '|split'")}
           |      % 10000 < 8000 THEN 'train'
           |    WHEN ${polyHashSql("CAST(doc_id AS VARCHAR) || '|split'")}
           |      % 10000 < 9000 THEN 'val'
           |    ELSE 'test' END AS split
           | FROM ${p}dd),
           |${p}hh AS (SELECT doc_id,
           |  ${polyHashSql("CAST(doc_id AS VARCHAR) || '|shuffle'")} AS hh
           | FROM ${p}spl WHERE split = 'train'),
           |${p}rk AS (SELECT doc_id,
           |  ROW_NUMBER() OVER (ORDER BY hh, doc_id) AS sp FROM ${p}hh),
           |${p}m AS (SELECT s.doc_id, s.split,
           |  COALESCE((r.sp - 1) % 4, -1) AS shard
           | FROM ${p}spl s LEFT JOIN ${p}rk r ON s.doc_id = r.doc_id)"""
          .stripMargin
      s"""WITH ${manifest("a", "doc_id < 250")},
         |${manifest("b", "TRUE")}
         |SELECT COALESCE(am.doc_id, bm.doc_id) AS doc_id,
         | CASE WHEN am.split IS NULL THEN 'added'
         |   WHEN bm.split IS NULL THEN 'removed'
         |   WHEN am.split <> bm.split THEN 'split_moved'
         |   WHEN am.shard <> bm.shard THEN 'shard_moved'
         |   ELSE 'unchanged' END AS status,
         | am.split AS old_split, bm.split AS new_split,
         | CAST(am.shard AS BIGINT) AS old_shard,
         | CAST(bm.shard AS BIGINT) AS new_shard
         |FROM am FULL JOIN bm ON am.doc_id = bm.doc_id
         |ORDER BY doc_id""".stripMargin
    },

    // Datasheet replay: the q113 split ranges + filtered token counts,
    // one aggregate.
    "q168_release_report" ->
      s"""WITH spl AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
         |  CASE WHEN ${polyHashSql("CAST(doc_id AS VARCHAR) || '|split'")}
         |      % 10000 < 8000 THEN 'train'
         |    WHEN ${polyHashSql("CAST(doc_id AS VARCHAR) || '|split'")}
         |      % 10000 < 9000 THEN 'val'
         |    ELSE 'test' END AS split,
         |  len(list_filter(string_split_regex(trim(text), '\\s+'),
         |    x -> len(x) > 0)) AS nt
         | FROM documents)
         |SELECT split, lang AS stratum,
         | CAST(COUNT(*) AS BIGINT) AS n_docs,
         | CAST(SUM(nt) AS BIGINT) AS n_tokens
         |FROM spl GROUP BY split, lang
         |ORDER BY split, stratum""".stripMargin,

    // Funnel alarm-surface replay: the shared rule chain aggregated
    // to per-rule fail counts + the kept total.
    "q169_funnel_report" ->
      ("WITH " + funnelRulesSql("") + ",\n" +
        """agg AS (SELECT
          |  SUM(CASE WHEN NOT r_len THEN 1 ELSE 0 END) AS f_len,
          |  SUM(CASE WHEN NOT r_avg_len THEN 1 ELSE 0 END) AS f_avg,
          |  SUM(CASE WHEN NOT r_stop THEN 1 ELSE 0 END) AS f_stop,
          |  SUM(CASE WHEN NOT r_rep THEN 1 ELSE 0 END) AS f_rep,
          |  SUM(CASE WHEN NOT r_lang THEN 1 ELSE 0 END) AS f_lang,
          |  SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS kept FROM rules)
          |SELECT 'r_len' AS rule, CAST(f_len AS BIGINT) AS n FROM agg
          |UNION ALL SELECT 'r_avg_len', CAST(f_avg AS BIGINT) FROM agg
          |UNION ALL SELECT 'r_stop', CAST(f_stop AS BIGINT) FROM agg
          |UNION ALL SELECT 'r_rep', CAST(f_rep AS BIGINT) FROM agg
          |UNION ALL SELECT 'r_lang', CAST(f_lang AS BIGINT) FROM agg
          |UNION ALL SELECT 'kept', CAST(kept AS BIGINT) FROM agg
          |ORDER BY rule""".stripMargin),

    // Quantization recall replay: exact float cosine top-5 (the q23
    // chain) vs the q155 quantized top-5, per-query intersection.
    "q167_sq8_recall" ->
      """WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |exact AS (SELECT query_id, neighbor_id FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |      round(list_cosine_similarity(q.v, c.v), 4) + 0.0 DESC,
        |      c.vec_id) AS rank
        |  FROM base q JOIN base c ON q.vec_id <> c.vec_id
        |  WHERE q.vec_id < 8) WHERE rank <= 5),
        |qv AS (SELECT vec_id,
        |  list_transform(v, x -> floor((x * 127) /
        |    list_max(list_transform(v, y -> abs(y))))) AS q
        | FROM base
        | WHERE list_max(list_transform(v, y -> abs(y))) > 0),
        |n AS (SELECT vec_id, q,
        |  sqrt(list_dot_product(q, q)) AS nrm FROM qv),
        |approx AS (SELECT query_id, neighbor_id FROM (
        |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        |    row_number() OVER (PARTITION BY a.vec_id ORDER BY
        |      round(list_dot_product(a.q, b.q) / (a.nrm * b.nrm), 4)
        |        + 0.0 DESC, b.vec_id) AS rank
        |  FROM n a JOIN n b ON a.vec_id <> b.vec_id
        |  WHERE a.vec_id < 8) WHERE rank <= 5),
        |hits AS (SELECT a.query_id, COUNT(*) AS n_hit
        | FROM approx a JOIN exact x ON a.query_id = x.query_id
        |   AND a.neighbor_id = x.neighbor_id GROUP BY a.query_id)
        |SELECT qq.query_id, CAST(5 AS BIGINT) AS k,
        | CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
        | CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / 5.0 AS recall
        |FROM (SELECT DISTINCT query_id FROM exact) qq
        |LEFT JOIN hits h USING (query_id) ORDER BY query_id""".stripMargin,

    // Trained-centroid RAG replay: Lloyd's over batch-1's sampled
    // chunks (q90 pattern), frozen assignment, 2-nearest probes,
    // quantized rank.
    "q170_rag_trained" -> RagTrainedOracleSql,

    // Chain-level recall: the q170 replay vs exact float-cosine
    // ground truth over the same chunks.
    "q171_rag_trained_recall" -> RagTrainedRecallOracleSql,

    // Compaction between the folds is invisible to the answer —
    // verbatim q164 oracle (same rows, same partition values).
    "q172_rag_compacted" -> RagVerticalOracleSql,

    // Funnel-gated RAG: the shared q157 rule chain gates documents
    // before the q164 retrieval replay.
    "q177_rag_gated" -> RagGatedOracleSql,

    // Line-level cleaning replay over the shared page fixture.
    "q173_clean_lines" -> CleanLinesOracleSql,

    // Line-cleaner alarm surface: per-rule fail counts + kept total.
    "q174_line_report" -> LineReportOracleSql,

    // Tombstone delete: candidate set restricted to the rows the
    // delete choreography leaves alive; queries unaffected.
    "q178_vector_delete" -> VectorDeleteOracleSql,

    // Delete → compact (physical) → append → delete again.
    "q179_delete_compacted" -> VectorDeleteCompactedOracleSql,

    // LSH candidate quality: q21 chain candidates vs exact bigram
    // Jaccard truth on the labeled subset — one precision/recall row.
    "q180_lsh_eval" -> LshEvalOracleSql,

    // Tokenizer coverage: q104 encode replay aggregated per source.
    "q181_tokenizer_coverage" -> TokenizerCoverageOracleSql,

    // Per-doc drop provenance: the q162 chain labeled stage by stage.
    "q182_drop_provenance" -> DropProvenanceOracleSql,

    // Packing efficiency: the q87 cumsum layout aggregated per stream.
    "q183_packing_report" ->
      """WITH n AS (SELECT source AS stream, doc_id,
        |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
        |    AS n_tokens
        | FROM documents),
        |c AS (SELECT stream, doc_id, n_tokens,
        |  SUM(n_tokens) OVER (PARTITION BY stream ORDER BY doc_id
        |    ROWS UNBOUNDED PRECEDING) AS end_tok FROM n),
        |f AS (SELECT stream, n_tokens,
        |  (end_tok - n_tokens) // 512 AS fc,
        |  (end_tok - 1) // 512 AS lc FROM c),
        |a AS (SELECT stream, COUNT(*) AS n_docs,
        |  SUM(n_tokens) AS n_tokens,
        |  SUM(CASE WHEN n_tokens > 0 AND fc <> lc THEN 1 ELSE 0 END)
        |    AS n_split_docs
        | FROM f GROUP BY stream)
        |SELECT stream, CAST(n_docs AS BIGINT) AS n_docs,
        | CAST(n_tokens AS BIGINT) AS n_tokens,
        | CAST((n_tokens + 511) // 512 AS BIGINT) AS n_chunks,
        | CAST(n_split_docs AS BIGINT) AS n_split_docs,
        | CAST(CASE WHEN n_tokens = 0 THEN 0 ELSE n_tokens * 10000 //
        |   (((n_tokens + 511) // 512) * 512) END AS BIGINT) AS fill_10k,
        | CAST(CASE WHEN n_docs = 0 THEN 0
        |   ELSE n_split_docs * 10000 // n_docs END AS BIGINT)
        |   AS split_10k
        |FROM a ORDER BY stream""".stripMargin,

    "q184_html_extract" -> HtmlExtractOracleSql,
    "q185_html_clean" -> HtmlCleanOracleSql,
    "q186_fuzzy_decon" -> FuzzyDeconOracleSql,
    "q187_fuzzy_decon_incremental" -> FuzzyDeconOracleSql,
    "q188_fuzzy_decon_eval" -> FuzzyDeconEvalOracleSql,
    "q189_bpe_bytes_train" -> BpeBytesTrainOracleSql,
    "q190_bpe_bytes_roundtrip" -> BpeBytesRoundtripOracleSql,
    "q191_bpe_bytes_coverage" -> BpeBytesCoverageOracleSql,

    // The q176 prediction convention for the AVI/MJPEG lane: per-frame
    // bins are (g0 + 5f) % 8 by construction (mid-bin grays survive
    // the lossy JPEG round trip), dominant bin = frame-count argmax,
    // lowest bin breaking ties.
    "q192_avi_frames" ->
      s"""WITH e AS ($EventsUsSql),
         |am AS (SELECT CAST(event_id AS BIGINT) AS media_id,
         |  8 + event_id % 16 AS width, 8 + event_id % 5 AS height,
         |  1 + event_id % 4 AS nf, event_id % 8 AS g0
         | FROM e WHERE event_id % 50 = 0),
         |ac AS (SELECT media_id, width, height, nf,
         |  list_transform(range(8), b -> len(list_filter(range(nf),
         |    f -> ((g0 + 5 * f) % 8) = b))) AS cl
         | FROM am)
         |SELECT media_id, CAST(width AS BIGINT) AS width,
         | CAST(height AS BIGINT) AS height,
         | CAST(nf AS BIGINT) AS n_frames,
         | CAST(list_position(cl, list_max(cl)) - 1 AS BIGINT) AS top_bin
         |FROM ac ORDER BY media_id""".stripMargin,

    "q193_ivf_drift" -> IvfDriftOracleSql,
    "q194_ivf_retrain" -> IvfRetrainOracleSql,
    "q195_wire_rag" -> WireRagOracleSql,

    // dHash-class prediction: duplicate-group size from the fixture's
    // class arithmetic alone (two bands, grid-aligned — size/gray
    // invariance means exactly two hash groups).
    "q199_image_neardup" ->
      s"""WITH e AS ($EventsUsSql),
         |im AS (SELECT CAST(event_id AS BIGINT) AS media_id,
         |  (event_id // 50) % 2 AS cls
         | FROM e WHERE event_id % 50 = 0),
         |g AS (SELECT cls, COUNT(*) AS n FROM im GROUP BY cls)
         |SELECT im.media_id, CAST(g.n - 1 AS BIGINT) AS n_dups
         |FROM im JOIN g USING (cls) ORDER BY media_id""".stripMargin,

    // near-count = same-class others + every class one code-bit away
    // (each class bit flips exactly one hash bit by construction)
    "q200_image_hamming" ->
      s"""WITH e AS ($EventsUsSql),
         |im AS (SELECT CAST(event_id AS BIGINT) AS media_id,
         |  (event_id // 50) % 4 AS cls
         | FROM e WHERE event_id % 50 = 0),
         |g AS (SELECT cls, COUNT(*) AS n FROM im GROUP BY cls),
         |nb AS (SELECT a.cls AS ca, b.cls AS cb, b.n FROM g a
         | JOIN g b ON bit_count(xor(a.cls, b.cls)) <= 1),
         |cnt AS (SELECT ca AS cls,
         |  SUM(CASE WHEN ca = cb THEN n - 1 ELSE n END) AS n_near
         | FROM nb GROUP BY ca)
         |SELECT im.media_id, CAST(cnt.n_near AS BIGINT) AS n_near
         |FROM im JOIN cnt USING (cls) ORDER BY media_id""".stripMargin,
    "q196_web_front" -> WebFrontOracleSql,
    "q197_fuzzy_decon_streamed" -> FuzzyDeconOracleSql,
    "q198_bpe_bytes_artifact" -> BpeBytesIdsOracleSql,

    // hash-only layers group by md5 ≡ group by text (128-bit
    // collision odds ~n²/2¹²⁹) — q19's oracle VERBATIM
    "q201_exact_dedup_hashed" ->
      """SELECT CAST(MIN(doc_id) AS BIGINT) AS keep_id, COUNT(*) AS n_dups
        |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin,

    "q202_hamming_eval" -> HammingEvalOracleSql,
    "q203_pdf_extract" -> PdfExtractOracleSql,

    // the PDF ride (encode → base64 ED → MIME strip → unbase64 →
    // FlateDecode → Tj walk) is lossless, so the wire→PDF→RAG lane
    // replays q195's oracle VERBATIM
    "q204_wire_pdf_rag" -> WireRagOracleSql,

    "q205_curation_fuzzy" -> CurationFuzzyOracleSql,
    "q206_curation_imagegate" -> CurationImageOracleSql,
    "q229_curation_aligngate" -> CurationAlignOracleSql,
    "q207_curation_image_radius" -> CurationImageRadiusOracleSql,
    "q208_curation_all_gates" -> CurationAllGatesOracleSql,

    // envelope-fingerprint class prediction: duplicate-group size
    // from the comb phase alone (volume and sample rate vary per
    // clip — the fingerprint ignores both by construction)
    "q209_audio_neardup" ->
      s"""WITH e AS ($EventsUsSql),
         |au AS (SELECT CAST(event_id AS BIGINT) AS media_id,
         |  (event_id // 50) % 4 AS cls
         | FROM e WHERE event_id % 50 = 0),
         |g AS (SELECT cls, COUNT(*) AS n FROM au GROUP BY cls)
         |SELECT au.media_id, CAST(g.n - 1 AS BIGINT) AS n_dups
         |FROM au JOIN g USING (cls) ORDER BY media_id""".stripMargin,

    // frame-sequence class prediction: the 3-bit class IS the
    // frame-hash sequence (one bright-side bit per frame), so group
    // size = class population, across the lossy JPEG round trip
    "q210_video_neardup" ->
      s"""WITH e AS ($EventsUsSql),
         |vd AS (SELECT CAST(event_id AS BIGINT) AS media_id,
         |  (event_id // 50) % 8 AS cls
         | FROM e WHERE event_id % 50 = 0),
         |g AS (SELECT cls, COUNT(*) AS n FROM vd GROUP BY cls)
         |SELECT vd.media_id, CAST(g.n - 1 AS BIGINT) AS n_dups
         |FROM vd JOIN g USING (cls) ORDER BY media_id""".stripMargin,

    "q211_curation_audiogate" -> CurationAudioOracleSql,

    // hard-negative replay: same cosine-to-s4 integers, the labeled
    // pairs from id arithmetic, margin and re-rank in BIGINT math
    "q212_hard_negatives" ->
      """WITH q AS (SELECT vec_id AS query_id,
        |  CAST(embedding AS DOUBLE[]) AS qv
        | FROM embeddings WHERE vec_id < 8),
        |c AS (SELECT vec_id AS neighbor_id,
        |  CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
        |p AS (SELECT query_id, query_id + 50 AS pos_id FROM q
        | UNION ALL SELECT query_id, query_id * 3 + 100 FROM q),
        |sx AS (SELECT query_id, neighbor_id,
        |  CAST(round(list_cosine_similarity(qv, cv) * 10000, 0)
        |    AS BIGINT) AS s4
        | FROM q, c WHERE query_id <> neighbor_id),
        |ps AS (SELECT s.query_id, MAX(s.s4) AS pos_s4
        | FROM sx s JOIN p ON s.query_id = p.query_id
        |  AND s.neighbor_id = p.pos_id
        | GROUP BY s.query_id),
        |neg AS (SELECT s.query_id, s.neighbor_id, s.s4, ps.pos_s4
        | FROM sx s JOIN ps USING (query_id)
        | WHERE s.s4 * 10000 <= ps.pos_s4 * 9000
        |  AND NOT EXISTS (SELECT 1 FROM p
        |   WHERE p.query_id = s.query_id AND p.pos_id = s.neighbor_id)),
        |r AS (SELECT query_id, neighbor_id, s4, pos_s4,
        |  row_number() OVER (PARTITION BY query_id
        |   ORDER BY s4 DESC, neighbor_id) AS rank FROM neg)
        |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank,
        | s4 / 10000.0 AS sim, pos_s4 / 10000.0 AS pos_sim
        |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // SFT span replay: the shared turn CTEs + one ROWS-framed cumsum
    "q213_sft_spans" -> SftSpansOracleSql,

    // the compacted state's spans replay q213's oracle VERBATIM —
    // compaction must be invisible in every artifact
    "q254_sft_compacted" -> SftSpansOracleSql,

    // SFT render replay: pieces string_agg'd in turn order
    "q214_sft_render" ->
      s"""WITH $SftTurnCtesSql
         |SELECT conv_id,
         | string_agg(piece, ' ' ORDER BY turn_idx) AS text,
         | CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
         | CAST(SUM(CASE WHEN role = 'assistant' THEN n_tokens
         |   ELSE 0 END) AS BIGINT) AS n_loss_tokens
         |FROM p GROUP BY conv_id ORDER BY conv_id""".stripMargin,

    // interleaved-packing replay: same cumsum, div-based chunk
    // bounds, per-chunk width clamps — all BIGINT arithmetic
    "q215_mm_interleave" ->
      """WITH it AS (
        | SELECT CAST(doc_id * 2 AS BIGINT) AS item_id,
        |  CAST(doc_id % 4 AS BIGINT) AS stream, 'text' AS kind,
        |  CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
        |    x -> len(x) > 0)) AS BIGINT) AS n
        | FROM documents
        | UNION ALL
        | SELECT CAST(doc_id * 2 + 1 AS BIGINT),
        |  CAST(doc_id % 4 AS BIGINT), 'image', 64
        | FROM documents WHERE doc_id % 7 = 0),
        |l AS (SELECT item_id, stream, kind, n,
        |  CAST(SUM(n) OVER (PARTITION BY stream ORDER BY item_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS end_tok FROM it),
        |ex AS (SELECT stream, kind, item_id, end_tok - n AS start_tok,
        |  end_tok, unnest(range((end_tok - n) // 256,
        |    (end_tok - 1) // 256 + 1)) AS chunk_idx
        | FROM l WHERE n > 0),
        |cw AS (SELECT stream, chunk_idx, kind, item_id, start_tok,
        |  LEAST(end_tok, (chunk_idx + 1) * 256)
        |    - GREATEST(start_tok, chunk_idx * 256) AS w FROM ex)
        |SELECT stream, CAST(chunk_idx AS BIGINT) AS chunk_idx,
        | CAST(COUNT(*) AS BIGINT) AS n_items,
        | CAST(SUM(CASE WHEN kind = 'image' THEN 0 ELSE w END)
        |   AS BIGINT) AS n_text_tokens,
        | CAST(SUM(CASE WHEN kind = 'image' THEN w ELSE 0 END)
        |   AS BIGINT) AS n_image_tokens,
        | string_agg(kind || ':' || item_id, ' ' ORDER BY start_tok)
        |   AS items
        |FROM cw GROUP BY stream, chunk_idx
        |ORDER BY stream, chunk_idx""".stripMargin,

    // WordPiece mining replay: exact-integer substring frequencies,
    // singles ∪ top-60 multi-char with the (cnt DESC, piece) cut
    "q216_wordpiece_vocab" ->
      ("WITH " + wordpieceVocabCtesSql(6, 60) + "\n" +
        "SELECT piece, cnt FROM wpvocab ORDER BY piece"),

    // WordPiece encode replay: re-mine the vocab, then 16 unrolled
    // greedy longest-match rounds over the augmented corpus's
    // distinct words (see wordpieceEncodeOracleSql)
    "q217_wordpiece_encode" -> wordpieceEncodeOracleSql(6, 60, 16),

    // artifact freeze contract: save→load→encode must be bit-
    // identical to the in-memory path — q217's oracle VERBATIM
    "q220_wordpiece_artifact" -> wordpieceEncodeOracleSql(6, 60, 16),

    // id layout: the (piece ASC) rank map over the mined vocab,
    // [UNK] → -1 via the left join
    "q221_wordpiece_ids" ->
      wordpieceEncodeOracleSql(6, 60, 16, ids = true),

    // indexed hard-negative replay: the q159/q160 SQ8 quantization +
    // probe chain, over-fetch cut BEFORE exclusions (the horizon is
    // part of the contract), positives scored in the same quantized
    // space, margin + re-rank in BIGINT s4 math
    "q218_hard_negatives_indexed" ->
      """WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |  CAST(label AS BIGINT) AS label FROM embeddings),
        |qv AS (SELECT vec_id, label,
        |  list_transform(v, x -> floor((x * 127) /
        |    list_max(list_transform(v, y -> abs(y))))) AS q
        | FROM base
        | WHERE list_max(list_transform(v, y -> abs(y))) > 0),
        |n AS (SELECT vec_id, label, q,
        |  sqrt(list_dot_product(q, q)) AS nrm FROM qv),
        |p AS (SELECT vec_id AS query_id, q AS qq, nrm AS qn,
        |  unnest(list_distinct([label, (label + 1) %
        |    (SELECT MAX(label) + 1 FROM embeddings)])) AS probe
        | FROM n WHERE vec_id < 8),
        |pp AS (SELECT vec_id AS query_id, vec_id + 50 AS pos_id
        |  FROM embeddings WHERE vec_id < 8
        | UNION ALL
        | SELECT vec_id, vec_id * 3 + 100
        |  FROM embeddings WHERE vec_id < 8),
        |sx AS (SELECT query_id, c.vec_id AS neighbor_id,
        |  round(list_dot_product(qq, c.q) / (qn * c.nrm), 4) + 0.0
        |    AS sim
        | FROM p JOIN n c ON probe = c.label AND query_id <> c.vec_id),
        |ofc AS (SELECT query_id, neighbor_id,
        |  CAST(round(sim * 10000, 0) AS BIGINT) AS s4
        | FROM (SELECT query_id, neighbor_id, sim, row_number() OVER
        |   (PARTITION BY query_id ORDER BY sim DESC, neighbor_id)
        |     AS rk FROM sx)
        | WHERE rk <= 10),
        |ps AS (SELECT pp.query_id, MAX(CAST(round(
        |   list_dot_product(a.q, c.q) / (a.nrm * c.nrm) * 10000, 0)
        |    AS BIGINT)) AS pos_s4
        | FROM pp JOIN n a ON a.vec_id = pp.query_id
        |  JOIN n c ON c.vec_id = pp.pos_id
        | GROUP BY pp.query_id),
        |neg AS (SELECT o.query_id, o.neighbor_id, o.s4, ps.pos_s4
        | FROM ofc o JOIN ps USING (query_id)
        | WHERE o.s4 * 10000 <= ps.pos_s4 * 30000
        |  AND NOT EXISTS (SELECT 1 FROM pp
        |   WHERE pp.query_id = o.query_id
        |    AND pp.pos_id = o.neighbor_id)),
        |r AS (SELECT query_id, neighbor_id, s4, pos_s4,
        |  row_number() OVER (PARTITION BY query_id
        |   ORDER BY s4 DESC, neighbor_id) AS rank FROM neg)
        |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank,
        | s4 / 10000.0 AS sim, pos_s4 / 10000.0 AS pos_sim
        |FROM r WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,

    // pruning-recall replay: both hard-negative chains (probed vs
    // all-clusters) over the shared quantization CTEs, the q171 tail
    "q224_hn_pruning_recall" -> HnPruningRecallOracleSql,

    // probe-sweep replay: three chains (2/5/all probes), horizon
    // corpus-wide, aggregated exact-integer recall rows
    "q225_hn_probe_sweep" -> HnProbeSweepOracleSql,

    // SFT-decon replay: plant → render → the q186 signature chain
    // over the combined (rendered convs ∪ benchmark) corpus, with
    // the ≥ 10⁶ id split discriminating training from benchmark
    "q223_sft_decon" -> SftDeconOracleSql,

    // truncation replay: first turn + the reverse-cumsum suffix test,
    // then the forward span cumsum over the kept turns
    "q222_sft_truncate" ->
      s"""WITH $SftTurnCtesSql,
         |tf AS (SELECT *, MIN(turn_idx) OVER (PARTITION BY conv_id)
         |   AS first_idx FROM p),
         |tg AS (SELECT *,
         |  MAX(CASE WHEN turn_idx = first_idx THEN n_tokens END)
         |    OVER (PARTITION BY conv_id) AS w_first,
         |  SUM(CASE WHEN turn_idx <> first_idx THEN n_tokens
         |    ELSE 0 END) OVER (PARTITION BY conv_id
         |     ORDER BY turn_idx DESC ROWS UNBOUNDED PRECEDING) AS rsum
         | FROM tf),
         |tk AS (SELECT conv_id, turn_idx, role, piece, n_tokens
         | FROM tg WHERE turn_idx = first_idx
         |  OR rsum + w_first <= 12),
         |ts AS (SELECT conv_id, turn_idx, role, piece, n_tokens,
         |  SUM(n_tokens) OVER (PARTITION BY conv_id ORDER BY turn_idx
         |    ROWS UNBOUNDED PRECEDING) AS end_tok FROM tk)
         |SELECT conv_id, turn_idx, role, piece,
         | CAST(end_tok - n_tokens AS BIGINT) AS start_tok,
         | CAST(end_tok AS BIGINT) AS end_tok,
         | CAST(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END
         |   AS BIGINT) AS in_loss
         |FROM ts ORDER BY conv_id, turn_idx""".stripMargin,

    // SFT-vertical replay: the shared turn CTEs → per-conversation
    // token widths → the q87 cumsum layout with `//` chunk bounds
    "q219_sft_pack" -> SftPackOracleSql,

    // the streamed SFT fold must be INVISIBLE in the artifacts:
    // q219's and q223's oracles VERBATIM (batch-boundary + at-least-
    // once-redelivery invariance, the q127/q165/q197 discipline)
    "q226_sft_pack_streamed" -> SftPackOracleSql,
    "q227_sft_decon_streamed" -> SftDeconOracleSql,

    // DPO assembly replay: the q212 mining chain (k=5, margin 9000)
    // + argmax-positive chosen pick + s4 preference gap + top-2
    // hardest rejected per prompt + the fuzzy prompt-decon anti-join
    "q228_dpo_pairs" -> DpoPairsOracleSql,

    // Unigram mining replay: exact-integer substring frequencies +
    // the 10^4-scaled score derivation over the selected table
    "q230_unigram_vocab" ->
      s"""WITH ${unigramVocabCtesSql(6, 60)}
         |SELECT piece, cnt, s10k FROM uvocab
         |ORDER BY piece""".stripMargin,

    // Unigram encode replay: re-mine the table, FULL-ENUMERATE every
    // segmentation in 9 unrolled HUGEINT stages, argmax by the
    // engine's exact tie-break — the independent check that the
    // native DP's per-position commits are globally optimal
    "q231_unigram_encode" -> unigramEncodeOracleSql(6, 60, 9),

    // artifact freeze contract: loading the persisted table must be
    // bit-identical to the in-memory path — q231's oracle VERBATIM
    "q232_unigram_artifact" -> unigramEncodeOracleSql(6, 60, 9),

    // Unigram ids replay: the encode chain + the (piece ASC) rank
    // join, [UNK] → -1 through the left join
    "q234_unigram_ids" -> unigramEncodeOracleSql(6, 60, 9, ids = true),

    // indexed-DPO replay: q218's quantized mining chain + the DENSE
    // chosen re-score + gap/rank assembly
    "q235_dpo_pairs_indexed" -> DpoIndexedOracleSql,

    // every gate incl. align: q208's oracle with BOTH media-gate
    // drop sets threaded into kept2
    "q242_curation_every_gate" -> CurationEveryGateOracleSql,

    // the streamed align-gated fold must be invisible: q229's oracle
    // VERBATIM (the q126/q127 pair's discipline for the new gate)
    "q241_curation_aligngate_streamed" -> CurationAlignOracleSql,

    // append-only allocator replay: both minings re-derived (base =
    // even docs, ext = full corpus), base ids = frozen rank, new
    // pieces numbered after the base max
    "q246_wordpiece_extend_ids" -> WpExtendIdsOracleSql,

    // the streamed DPO vertical replays q228's one-shot oracle
    // VERBATIM — micro-batch boundaries and the redelivered slice
    // must be invisible in the assembled pairs
    "q248_dpo_pairs_streamed" -> DpoPairsOracleSql,

    // split-leakage replay: union corpus (docs + planted near-copies)
    // through the 32-band signature chain, est ≥ 0.5 pairs joined to
    // the q113 split hash on both sides, counts per unordered
    // boundary
    "q249_split_leakage" -> SplitLeakageOracleSql,

    // cross-modal retrieval replay: the alignment fixture's features
    // int8-quantized both sides, probed-cluster join, the engine's
    // exact rounded-cosine ranking
    "q250_xmodal_retrieval" -> XmodalRetrievalOracleSql,

    // pruning recall replay: the 2-of-4-probe chain vs the all-probes
    // truth over the same index CTEs
    "q251_xmodal_recall" -> XmodalRecallOracleSql,

    // the full ranked n-best list from the enumeration, ties under
    // the exact total order
    "q252_unigram_nbest" ->
      unigramEncodeOracleSql(6, 60, 9, nBest = 4, nBestList = true),

    // sampled-encode replay: enumeration → ranked window → the
    // seeded polyHash draw → the picked segmentation's piece stream
    "q253_unigram_sampled" ->
      unigramEncodeOracleSql(6, 60, 9, nBest = 4, sampleSeed = 42L),

    // incremental cross-modal index: q250's oracle VERBATIM — the
    // append/append/compact lifecycle must be invisible
    "q255_xmodal_incremental" -> XmodalRetrievalOracleSql,

    // nBest sweep replay: one enumeration, per-knob seeded picks,
    // token totals
    "q256_unigram_nbest_sweep" ->
      unigramNBestSweepOracleSql(6, 60, 9, Seq(1, 2, 4, 8), 42L),

    // the incremental-state audit replays the one-shot oracle
    // VERBATIM — batch-by-batch signature folding must be invisible
    "q257_split_leakage_incremental" -> SplitLeakageOracleSql,

    // streamed indexed-DPO: q235's oracle VERBATIM — the streaming
    // layers AND the index lifecycle both invisible in the pairs
    "q258_dpo_indexed_streamed" -> DpoIndexedOracleSql,

    // BPE allocator replay: both merge trainings + both |Σ|+step
    // layouts + the append-only arithmetic
    "q259_bpe_extend_ids" -> BpeExtendIdsOracleSql,

    // length-bucketed batch manifest replay
    "q260_length_batches" -> lengthBatchOracleSql(16L, manifest = true),

    // bucket-width sweep replay: per-knob batching + padded-slot
    // ratios
    "q261_length_bucket_sweep" ->
      materializeCtes(s"""WITH ${lengthBatchCte(1000000L, "a")},
        |${lengthBatchCte(64L, "b")},
        |${lengthBatchCte(16L, "c")}
        |SELECT * FROM (
        | SELECT CAST(1000000 AS BIGINT) AS bucket_tokens,
        |  CAST(COUNT(*) AS BIGINT) AS n_batches,
        |  CAST(SUM(pad) AS BIGINT) AS pad_tokens,
        |  CAST(SUM(pad) * 10000 // SUM(slots) AS BIGINT) AS pad_10k
        | FROM abt
        | UNION ALL
        | SELECT 64, CAST(COUNT(*) AS BIGINT), CAST(SUM(pad) AS BIGINT),
        |  CAST(SUM(pad) * 10000 // SUM(slots) AS BIGINT) FROM bbt
        | UNION ALL
        | SELECT 16, CAST(COUNT(*) AS BIGINT), CAST(SUM(pad) AS BIGINT),
        |  CAST(SUM(pad) * 10000 // SUM(slots) AS BIGINT) FROM cbt)
        |ORDER BY bucket_tokens""".stripMargin),

    // decode replay: the BASE-corpus encode chain (vocab AND shard
    // both from the even docs — the pre-extension world), ids from
    // the frozen base rank, decoded BACK by id and regrouped into
    // words. The ENGINE decodes with the EXTENDED id table — the
    // hash match is the old-shards-keep-decoding guarantee itself.
    "q262_wordpiece_decode" -> wordpieceEncodeOracleSql(6, 60, 9,
      src = "(SELECT * FROM documents WHERE doc_id % 2 = 0)",
      decodeWords = true),

    // decode through the PERSISTED extended artifact: q262's oracle
    // VERBATIM — the saved/loaded id table must be invisible
    "q279_decode_artifact" -> wordpieceEncodeOracleSql(6, 60, 9,
      src = "(SELECT * FROM documents WHERE doc_id % 2 = 0)",
      decodeWords = true),

    // compacted preference layers replay q248's — q228's — oracle
    // VERBATIM: compaction must be invisible in the assembled pairs
    "q263_dpo_stream_compacted" -> DpoPairsOracleSql,

    // rendered-SFT length-batch replay: the q214 render CTEs feed the
    // q260 bucketing chain (conv widths instead of raw doc widths)
    "q264_sft_length_batches" -> materializeCtes(
      s"""WITH $SftTurnCtesSql,
         |${lengthBatchCte(4L, "m", lbSql = Some(
             "SELECT conv_id AS doc_id, CAST(SUM(n_tokens) AS BIGINT)" +
               " AS n FROM p GROUP BY conv_id"))}
         |SELECT bucket, batch_idx, CAST(nd AS BIGINT) AS n_docs,
         | CAST(mx AS BIGINT) AS max_tokens,
         | CAST(sm AS BIGINT) AS sum_tokens,
         | CAST(pad AS BIGINT) AS pad_tokens
         |FROM mbt ORDER BY bucket, batch_idx""".stripMargin),

    // pad-vs-pack replay: both batch-assembly chains over the same
    // document widths — bucketed padding totals vs the packing
    // cumsum's partial-chunk waste + boundary-split doc count
    "q265_pad_vs_pack" -> materializeCtes(
      s"""WITH ${lengthBatchCte(16L, "m")},
         |rw AS (SELECT doc_id, doc_id % 4 AS stream, n FROM mlb),
         |pcz AS (SELECT stream, doc_id, n,
         |  CAST(SUM(n) OVER (PARTITION BY stream ORDER BY doc_id
         |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS end_tok
         | FROM rw),
         |pks AS (SELECT stream, SUM(n) AS nt,
         |  SUM(CASE WHEN n > 0
         |    AND (end_tok - n) // 64 <> (end_tok - 1) // 64
         |   THEN 1 ELSE 0 END) AS nsplit
         | FROM pcz GROUP BY stream),
         |pkt AS (SELECT SUM(((nt + 63) // 64) * 64) AS slots,
         |  SUM(nt) AS ntok, SUM(nsplit) AS nsplit FROM pks),
         |pdt AS (SELECT SUM(nd * mx) AS slots, SUM(sm) AS ntok,
         |  SUM(pad) AS waste FROM mbt)
         |SELECT strategy, CAST(slots AS BIGINT) AS slots,
         | CAST(n_tokens AS BIGINT) AS n_tokens,
         | CAST(waste_tokens AS BIGINT) AS waste_tokens,
         | CAST(waste_10k AS BIGINT) AS waste_10k,
         | CAST(n_split_docs AS BIGINT) AS n_split_docs
         |FROM (
         | SELECT 'pack_chunks' AS strategy, slots, ntok AS n_tokens,
         |  slots - ntok AS waste_tokens,
         |  (slots - ntok) * 10000 // slots AS waste_10k,
         |  nsplit AS n_split_docs FROM pkt
         | UNION ALL
         | SELECT 'pad_bucketed', slots, ntok, waste,
         |  waste * 10000 // slots, 0 FROM pdt)
         |ORDER BY strategy""".stripMargin),

    // epoch-upsample replay: full copies = e4 div 10⁴, the extra copy
    // iff the frozen per-doc hash lands under the remainder
    "q266_epoch_upsample" -> materializeCtes(
      s"""WITH uep AS (SELECT * FROM (VALUES
         |  ('de', CAST(5000 AS BIGINT)), ('zh', 10000),
         |  ('en', 14000), ('es', 25000)) t(lang, e4)),
         |ud AS (SELECT CAST(d.doc_id AS BIGINT) AS doc_id, d.lang,
         |  e.e4 FROM documents d JOIN uep e ON d.lang = e.lang),
         |uc AS (SELECT doc_id, lang,
         |  e4 // 10000 + CASE WHEN
         |    ${polyHashSql("CAST(doc_id AS VARCHAR) || '|ep'")}
         |     % 10000 < e4 % 10000 THEN 1 ELSE 0 END AS nc
         | FROM ud)
         |SELECT doc_id, stratum, CAST(copy_idx AS BIGINT) AS copy_idx
         |FROM (SELECT doc_id, lang AS stratum,
         |  unnest(range(nc)) AS copy_idx FROM uc WHERE nc > 0)
         |ORDER BY doc_id, copy_idx""".stripMargin),

    // realized-mixture replay: the same draw, aggregated per stratum
    // with exact-integer realized epochs and token masses
    "q267_epoch_mixture_report" -> materializeCtes(
      s"""WITH uep AS (SELECT * FROM (VALUES
         |  ('de', CAST(5000 AS BIGINT)), ('zh', 10000),
         |  ('en', 14000), ('es', 25000)) t(lang, e4)),
         |ud AS (SELECT CAST(d.doc_id AS BIGINT) AS doc_id, d.lang,
         |  e.e4, CAST(len(list_filter(string_split_regex(trim(d.text),
         |    '\\s+'), x -> len(x) > 0)) AS BIGINT) AS tk
         | FROM documents d JOIN uep e ON d.lang = e.lang),
         |uc AS (SELECT doc_id, lang, tk, e4,
         |  e4 // 10000 + CASE WHEN
         |    ${polyHashSql("CAST(doc_id AS VARCHAR) || '|ep'")}
         |     % 10000 < e4 % 10000 THEN 1 ELSE 0 END AS nc
         | FROM ud)
         |SELECT lang AS stratum, CAST(MAX(e4) AS BIGINT) AS target_e4,
         | CAST(COUNT(*) AS BIGINT) AS n_docs,
         | CAST(SUM(nc) AS BIGINT) AS n_copies,
         | CAST(SUM(nc) * 10000 // COUNT(*) AS BIGINT) AS realized_e4,
         | CAST(SUM(tk) AS BIGINT) AS corpus_tokens,
         | CAST(SUM(nc * tk) AS BIGINT) AS copy_tokens
         |FROM uc GROUP BY lang ORDER BY stratum""".stripMargin),

    // cursor-resume replay: q260's chain + the same WHERE
    "q268_length_batches_resume" -> materializeCtes(
      s"""WITH ${lengthBatchCte(16L, "m")}
         |SELECT bucket, batch_idx, CAST(nd AS BIGINT) AS n_docs,
         | CAST(mx AS BIGINT) AS max_tokens,
         | CAST(sm AS BIGINT) AS sum_tokens,
         | CAST(pad AS BIGINT) AS pad_tokens
         |FROM mbt
         |WHERE bucket > 3 OR (bucket = 3 AND batch_idx >= 2)
         |ORDER BY bucket, batch_idx""".stripMargin),

    // no-split packing replay: the sequential per-stream fold as a
    // recursive CTE over the per-stream ordinals
    "q269_pack_nosplit" -> materializeCtes(
      s"""WITH RECURSIVE nlb AS (SELECT CAST(doc_id AS BIGINT)
         |  AS doc_id, CAST(doc_id % 4 AS BIGINT) AS stream,
         |  CAST(len(list_filter(string_split_regex(trim(text),
         |    '\\s+'), x -> len(x) > 0)) AS BIGINT) AS n
         | FROM documents),
         |nrn AS (SELECT stream, doc_id, n, row_number() OVER
         |  (PARTITION BY stream ORDER BY doc_id) AS ord FROM nlb),
         |nrec AS (SELECT stream, doc_id, n, ord,
         |  CAST(0 AS BIGINT) AS chunk_idx, n AS fill
         | FROM nrn WHERE ord = 1
         | UNION ALL
         | SELECT x.stream, x.doc_id, x.n, x.ord,
         |  CASE WHEN r.fill + x.n <= 128 THEN r.chunk_idx
         |   ELSE r.chunk_idx + 1 END,
         |  CASE WHEN r.fill + x.n <= 128 THEN r.fill + x.n
         |   ELSE x.n END
         | FROM nrec r JOIN nrn x ON x.stream = r.stream
         |  AND x.ord = r.ord + 1)
         |SELECT stream, doc_id, n AS n_tokens, chunk_idx,
         | fill AS fill_after
         |FROM nrec ORDER BY stream, doc_id""".stripMargin),

    // tier-sweep replay: all three chains over the same widths
    "q270_batch_tier_sweep" -> materializeCtes(
      s"""WITH RECURSIVE ${lengthBatchCte(16L, "m")},
         |rw AS (SELECT doc_id, doc_id % 4 AS stream, n FROM mlb),
         |pcz AS (SELECT stream, doc_id, n,
         |  CAST(SUM(n) OVER (PARTITION BY stream ORDER BY doc_id
         |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS end_tok
         | FROM rw),
         |pks AS (SELECT stream, SUM(n) AS nt,
         |  SUM(CASE WHEN n > 0
         |    AND (end_tok - n) // 128 <> (end_tok - 1) // 128
         |   THEN 1 ELSE 0 END) AS nsplit
         | FROM pcz GROUP BY stream),
         |pkt AS (SELECT SUM(((nt + 127) // 128) * 128) AS slots,
         |  SUM(nt) AS ntok, SUM(nsplit) AS nsplit FROM pks),
         |nrn AS (SELECT stream, doc_id, n, row_number() OVER
         |  (PARTITION BY stream ORDER BY doc_id) AS ord FROM rw),
         |nrec AS (SELECT stream, doc_id, n, ord,
         |  CAST(0 AS BIGINT) AS chunk_idx, n AS fill
         | FROM nrn WHERE ord = 1
         | UNION ALL
         | SELECT x.stream, x.doc_id, x.n, x.ord,
         |  CASE WHEN r.fill + x.n <= 128 THEN r.chunk_idx
         |   ELSE r.chunk_idx + 1 END,
         |  CASE WHEN r.fill + x.n <= 128 THEN r.fill + x.n
         |   ELSE x.n END
         | FROM nrec r JOIN nrn x ON x.stream = r.stream
         |  AND x.ord = r.ord + 1),
         |nst AS (SELECT stream, MAX(chunk_idx) + 1 AS nc,
         |  SUM(n) AS nt FROM nrec GROUP BY stream),
         |nt2 AS (SELECT SUM(nc * 128) AS slots, SUM(nt) AS ntok
         | FROM nst),
         |pdt AS (SELECT SUM(nd * mx) AS slots, SUM(sm) AS ntok,
         |  SUM(pad) AS waste FROM mbt)
         |SELECT strategy, CAST(slots AS BIGINT) AS slots,
         | CAST(n_tokens AS BIGINT) AS n_tokens,
         | CAST(waste_tokens AS BIGINT) AS waste_tokens,
         | CAST(waste_10k AS BIGINT) AS waste_10k,
         | CAST(n_split_docs AS BIGINT) AS n_split_docs
         |FROM (
         | SELECT 'pad_bucketed' AS strategy, slots, ntok AS n_tokens,
         |  waste AS waste_tokens, waste * 10000 // slots AS waste_10k,
         |  0 AS n_split_docs FROM pdt
         | UNION ALL
         | SELECT 'pack_split', slots, ntok, slots - ntok,
         |  (slots - ntok) * 10000 // slots, nsplit FROM pkt
         | UNION ALL
         | SELECT 'pack_nosplit', slots, ntok, slots - ntok,
         |  (slots - ntok) * 10000 // slots, 0 FROM nt2)
         |ORDER BY strategy""".stripMargin),

    // fertility replay: the encode chain + the one-row
    // tokenizer-selection aggregate
    "q271_wordpiece_fertility" ->
      wordpieceEncodeOracleSql(6, 60, 9, fertility = true),

    // the shard-only report replays q271's oracle VERBATIM — the
    // encode→ids→decode round trip must be invisible
    "q274_shard_fertility" ->
      wordpieceEncodeOracleSql(6, 60, 9, fertility = true),

    // vocab-budget sweep replay: three prefixed mining+encode chains
    // (plain corpus, 16-char horizon), one fertility row each
    "q278_vocab_budget_sweep" -> materializeCtes(
      s"""WITH ${wordpieceEncodeCtesSql(6, 30, 16, augment = false,
            p = "va")},
         |${wordpieceEncodeCtesSql(6, 60, 16, augment = false,
            p = "vb")},
         |${wordpieceEncodeCtesSql(6, 120, 16, augment = false,
            p = "vc")},
         |${Seq("va" -> 30, "vb" -> 60, "vc" -> 120).map {
            case (p, tp) =>
              s"""${p}st AS (SELECT CAST($tp AS BIGINT) AS top_pieces,
                 |  COUNT(*) AS n_pieces,
                 |  SUM(CASE WHEN piece LIKE '##%' THEN 0 ELSE 1 END)
                 |   AS n_words,
                 |  SUM(CASE WHEN piece = '[UNK]' THEN 0
                 |    WHEN piece LIKE '##%' THEN len(piece) - 2
                 |    ELSE len(piece) END) AS content_chars
                 | FROM ${p}wfl)""".stripMargin
          }.mkString(",\n")}
         |SELECT top_pieces, CAST(n_pieces AS BIGINT) AS n_pieces,
         | CAST(n_pieces * 10000 // n_words AS BIGINT)
         |  AS fertility_10k,
         | CAST(content_chars * 10000 // n_pieces AS BIGINT)
         |  AS chars_per_piece_10k
         |FROM (SELECT * FROM vast UNION ALL
         |  SELECT * FROM vbst UNION ALL SELECT * FROM vcst)
         |ORDER BY top_pieces""".stripMargin),

    // cross-tokenizer selection replay: the WordPiece chain (plain
    // corpus, 16-char horizon) + the z-prefixed 20-step BPE chain +
    // the shared word count, two comparison rows
    "q277_tokenizer_selection" -> materializeCtes(
      s"""WITH ${wordpieceEncodeCtesSql(6, 60, 16, augment = false)},
         |${bpeChainSql(BpeSteps, p = "z")},
         |wN AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_words FROM adt),
         |wpn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pieces
         | FROM wfl),
         |zenc AS (SELECT t.doc_id, v.sym
         | FROM adt t JOIN zv$BpeSteps v ON v.wid = t.tok),
         |zpn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pieces
         | FROM zenc)
         |SELECT tokenizer, n_words, n_pieces,
         | CAST(n_pieces * 10000 // n_words AS BIGINT)
         |  AS fertility_10k
         |FROM (
         | SELECT 'bpe_char' AS tokenizer, w.n_words, z.n_pieces
         | FROM wN w, zpn z
         | UNION ALL
         | SELECT 'wordpiece', w.n_words, p.n_pieces FROM wN w, wpn p)
         |ORDER BY tokenizer""".stripMargin),

    // FIM replay: draw, both cut hashes, the exact rebuilt PSM
    // strings (1-based inclusive list slices; shared with q275)
    "q272_fim_transform" -> materializeCtes(
      s"""WITH $FimCtesSql
         |SELECT doc_id, fim, n_prefix, n_middle, n_suffix, text
         |FROM fdoc ORDER BY doc_id""".stripMargin),

    // FIM -> packed chunks (the code-model pipeline): the fim chain
    // feeds the q219 cumsum over the REWRITTEN widths (sentinels are
    // tokens)
    "q275_fim_pack" -> materializeCtes(
      s"""WITH $FimCtesSql,
         |fpw AS (SELECT doc_id, doc_id % 4 AS stream,
         |  CAST(len(list_filter(string_split_regex(trim(text),
         |    '\\s+'), x -> len(x) > 0)) AS BIGINT) AS n_tokens
         | FROM fdoc),
         |fcz AS (SELECT stream, doc_id, n_tokens,
         |  CAST(SUM(n_tokens) OVER (PARTITION BY stream
         |    ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
         |   AS end_tok
         | FROM fpw)
         |SELECT stream, doc_id, n_tokens, end_tok,
         | end_tok - n_tokens AS start_tok,
         | CAST((end_tok - n_tokens) // 64 AS BIGINT) AS first_chunk,
         | CAST((end_tok - 1) // 64 AS BIGINT) AS last_chunk
         |FROM fcz ORDER BY stream, doc_id""".stripMargin),

    // annealing replay: per-score-bucket cumulatives + the
    // within-bucket frozen-hash running offset, one global start rule
    "q273_anneal_phases" -> materializeCtes(
      s"""WITH $AnnealCtesSql
         |SELECT doc_id, score, n AS n_tokens,
         | CAST(CASE WHEN st < 6000 THEN 1 ELSE 0 END AS BIGINT)
         |  AS phase
         |FROM ast ORDER BY doc_id""".stripMargin),

    // anneal-budget sweep: one chain, three budgets over the global
    // start offsets
    "q276_anneal_sweep" -> materializeCtes(
      s"""WITH $AnnealCtesSql
         |SELECT * FROM (
         | SELECT CAST(2000 AS BIGINT) AS anneal_tokens,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(n) AS BIGINT) AS n_tokens,
         |  CAST(MIN(score) AS BIGINT) AS min_score
         | FROM ast WHERE st < 2000
         | UNION ALL
         | SELECT 6000, CAST(COUNT(*) AS BIGINT),
         |  CAST(SUM(n) AS BIGINT), CAST(MIN(score) AS BIGINT)
         | FROM ast WHERE st < 6000
         | UNION ALL
         | SELECT 20000, CAST(COUNT(*) AS BIGINT),
         |  CAST(SUM(n) AS BIGINT), CAST(MIN(score) AS BIGINT)
         | FROM ast WHERE st < 20000)
         |ORDER BY anneal_tokens""".stripMargin),

    // the allocator through the full Viterbi encode: q231's
    // enumeration replay with the id table swapped for the
    // base-rank ∪ after-max-appended allocation
    "q247_unigram_extend_encode" ->
      unigramEncodeOracleSql(6, 60, 9, ids = true, extendIds = true),

    // margin-sweep replay: the q212 chain with the margin as an
    // unnested parameter, counts over the rank<=5 admitted rows
    "q245_hn_margin_sweep" ->
      """WITH q AS (SELECT vec_id AS query_id,
        |  CAST(embedding AS DOUBLE[]) AS qv
        | FROM embeddings WHERE vec_id < 8),
        |c AS (SELECT vec_id AS neighbor_id,
        |  CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
        |p AS (SELECT query_id, query_id + 50 AS pos_id FROM q
        | UNION ALL SELECT query_id, query_id * 3 + 100 FROM q),
        |sx AS (SELECT query_id, neighbor_id,
        |  CAST(round(list_cosine_similarity(qv, cv) * 10000, 0)
        |    AS BIGINT) AS s4
        | FROM q, c WHERE query_id <> neighbor_id),
        |ps AS (SELECT s.query_id, MAX(s.s4) AS pos_s4
        | FROM sx s JOIN p ON s.query_id = p.query_id
        |  AND s.neighbor_id = p.pos_id
        | GROUP BY s.query_id),
        |m AS (SELECT unnest([9000, 30000, 100000]) AS mg),
        |neg AS (SELECT m.mg, s.query_id, s.neighbor_id, s.s4
        | FROM sx s JOIN ps USING (query_id) CROSS JOIN m
        | WHERE s.s4 * 10000 <= ps.pos_s4 * m.mg
        |  AND NOT EXISTS (SELECT 1 FROM p
        |   WHERE p.query_id = s.query_id
        |    AND p.pos_id = s.neighbor_id)),
        |rr AS (SELECT mg, query_id, neighbor_id,
        |  row_number() OVER (PARTITION BY mg, query_id
        |   ORDER BY s4 DESC, neighbor_id) AS rank FROM neg)
        |SELECT CAST(mg AS BIGINT) AS margin10k,
        | CAST(COUNT(DISTINCT query_id) AS BIGINT) AS n_queries,
        | CAST(COUNT(*) AS BIGINT) AS n_negatives
        |FROM rr WHERE rank <= 5
        |GROUP BY mg ORDER BY margin10k""".stripMargin,

    // truncate→pack→loss replay: the q222 suffix-fit chain, widths
    // over the SURVIVING turns, the q238 cumsum + chunk-overlap tail
    "q244_sft_truncate_pack_loss" ->
      s"""WITH $SftTurnCtesSql,
         |tf AS (SELECT *, MIN(turn_idx) OVER (PARTITION BY conv_id)
         |   AS first_idx FROM p),
         |tg AS (SELECT *,
         |  MAX(CASE WHEN turn_idx = first_idx THEN n_tokens END)
         |    OVER (PARTITION BY conv_id) AS w_first,
         |  SUM(CASE WHEN turn_idx <> first_idx THEN n_tokens
         |    ELSE 0 END) OVER (PARTITION BY conv_id
         |     ORDER BY turn_idx DESC ROWS UNBOUNDED PRECEDING) AS rsum
         | FROM tf),
         |tk AS (SELECT conv_id, turn_idx, role, n_tokens
         | FROM tg WHERE turn_idx = first_idx
         |  OR rsum + w_first <= 12),
         |ts AS (SELECT conv_id, role, n_tokens,
         |  SUM(n_tokens) OVER (PARTITION BY conv_id ORDER BY turn_idx
         |    ROWS UNBOUNDED PRECEDING) AS end_tok FROM tk),
         |rw AS (SELECT conv_id, conv_id % 4 AS stream,
         |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
         | FROM tk GROUP BY conv_id),
         |cz AS (SELECT stream, conv_id,
         |  CAST(SUM(n_tokens) OVER (PARTITION BY stream
         |    ORDER BY conv_id ROWS UNBOUNDED PRECEDING)
         |   - n_tokens AS BIGINT) AS conv_off
         | FROM rw),
         |g AS (SELECT cz.stream,
         |  CASE WHEN ts.role = 'assistant' THEN 1 ELSE 0 END
         |    AS in_loss,
         |  CAST(cz.conv_off + ts.end_tok - ts.n_tokens AS BIGINT)
         |    AS gs,
         |  CAST(cz.conv_off + ts.end_tok AS BIGINT) AS ge
         | FROM ts JOIN cz USING (conv_id)),
         |x AS (SELECT stream, in_loss, gs, ge,
         |  unnest(range(gs // 64, (ge - 1) // 64 + 1)) AS chunk_idx
         | FROM g)
         |SELECT stream, CAST(chunk_idx AS BIGINT) AS chunk_idx,
         | CAST(SUM(least(ge, (chunk_idx + 1) * 64) -
         |   greatest(gs, chunk_idx * 64)) AS BIGINT) AS n_tokens,
         | CAST(SUM(CASE WHEN in_loss = 1
         |   THEN least(ge, (chunk_idx + 1) * 64) -
         |     greatest(gs, chunk_idx * 64) ELSE 0 END) AS BIGINT)
         |  AS n_loss_tokens
         |FROM x GROUP BY stream, chunk_idx
         |ORDER BY stream, chunk_idx""".stripMargin,

    // mixture-report replay: counts + the deriveCaps min-ratio
    // arithmetic + achieved shares over the capped total, with the
    // no-data target and no-target stratum rows surfacing
    "q243_mixture_report" ->
      """WITH c AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS cs
        |  FROM documents GROUP BY lang),
        |t AS (SELECT * FROM (VALUES ('en', 8000), ('es', 1500),
        |  ('fr', 1000)) t(lang, share10k)),
        |p AS (SELECT t.lang, c.cs, t.share10k
        | FROM t JOIN c USING (lang) WHERE t.share10k > 0),
        |n AS (SELECT MIN(cs * 10000 // share10k) AS nn FROM p),
        |caps AS (SELECT lang, CAST(nn * share10k // 10000 AS BIGINT)
        |  AS cap FROM p, n),
        |tot AS (SELECT SUM(cap) AS tc FROM caps),
        |u AS (SELECT lang FROM c UNION SELECT lang FROM t)
        |SELECT u.lang,
        | CAST(COALESCE(c.cs, 0) AS BIGINT) AS n_avail,
        | CAST(COALESCE(t.share10k, 0) AS BIGINT) AS share10k,
        | CAST(COALESCE(caps.cap, 0) AS BIGINT) AS cap,
        | CAST(CASE WHEN tot.tc > 0
        |   THEN COALESCE(caps.cap, 0) * 10000 // tot.tc
        |   ELSE 0 END AS BIGINT) AS achieved10k
        |FROM u LEFT JOIN c USING (lang) LEFT JOIN t USING (lang)
        | LEFT JOIN caps USING (lang) CROSS JOIN tot
        |ORDER BY u.lang""".stripMargin,

    // token-release replay: the FULL q126 chain through its final
    // selection, then the frozen-hash token cumsum + budget cut
    "q240_curation_token_release" -> CurationTokenReleaseOracleSql,

    // token-mixture replay: frozen-hash order + ROWS cumsum + the
    // starts-within-budget cut, budgets as literal rows
    "q239_token_mixture" ->
      s"""WITH dt AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
         |  CAST(len(list_filter(string_split_regex(trim(text),
         |    '\\s+'), x -> len(x) > 0)) AS BIGINT) AS n,
         |  ${polyHashSql("CAST(doc_id AS VARCHAR) || '|' || lang")}
         |    AS hh
         | FROM documents),
         |c AS (SELECT doc_id, lang, n,
         |  row_number() OVER (PARTITION BY lang ORDER BY hh, doc_id)
         |    AS tok_rank,
         |  CAST(SUM(n) OVER (PARTITION BY lang ORDER BY hh, doc_id
         |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
         | FROM dt),
         |b AS (SELECT 'en' AS lang, 40000 AS budget
         | UNION ALL SELECT 'es', 6000)
         |SELECT doc_id, lang, CAST(tok_rank AS BIGINT) AS tok_rank,
         | cum_tokens
         |FROM c JOIN b USING (lang)
         |WHERE cum_tokens - n < budget
         |ORDER BY lang, tok_rank""".stripMargin,

    // packed-loss replay: spans cumsum + pack cumsum joined on the
    // conversation, ÷-bounded chunk explode, per-chunk overlap sums
    "q238_sft_pack_loss" ->
      s"""WITH $SftTurnCtesSql,
         |sp AS (SELECT conv_id, role, n_tokens,
         |  SUM(n_tokens) OVER (PARTITION BY conv_id ORDER BY turn_idx
         |    ROWS UNBOUNDED PRECEDING) AS end_tok
         | FROM p),
         |rw AS (SELECT conv_id, conv_id % 4 AS stream,
         |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
         | FROM p GROUP BY conv_id),
         |cz AS (SELECT stream, conv_id,
         |  CAST(SUM(n_tokens) OVER (PARTITION BY stream
         |    ORDER BY conv_id ROWS UNBOUNDED PRECEDING)
         |   - n_tokens AS BIGINT) AS conv_off
         | FROM rw),
         |g AS (SELECT cz.stream,
         |  CASE WHEN sp.role = 'assistant' THEN 1 ELSE 0 END
         |    AS in_loss,
         |  CAST(cz.conv_off + sp.end_tok - sp.n_tokens AS BIGINT)
         |    AS gs,
         |  CAST(cz.conv_off + sp.end_tok AS BIGINT) AS ge
         | FROM sp JOIN cz USING (conv_id)),
         |x AS (SELECT stream, in_loss, gs, ge,
         |  unnest(range(gs // 64, (ge - 1) // 64 + 1)) AS chunk_idx
         | FROM g)
         |SELECT stream, CAST(chunk_idx AS BIGINT) AS chunk_idx,
         | CAST(SUM(least(ge, (chunk_idx + 1) * 64) -
         |   greatest(gs, chunk_idx * 64)) AS BIGINT) AS n_tokens,
         | CAST(SUM(CASE WHEN in_loss = 1
         |   THEN least(ge, (chunk_idx + 1) * 64) -
         |     greatest(gs, chunk_idx * 64) ELSE 0 END) AS BIGINT)
         |  AS n_loss_tokens
         |FROM x GROUP BY stream, chunk_idx
         |ORDER BY stream, chunk_idx""".stripMargin,

    // align-threshold sweep replay: the shared score CTEs + the
    // plant arithmetic, confusion counts per unnested threshold
    "q236_align_sweep" -> AlignSweepOracleSql,

    // the streamed bridge must be invisible: q233's oracle VERBATIM
    "q237_wire_sft_streamed" -> WireSftOracleSql,

    // wire→SFT bridge replay: the q75 forms-fold outcome from orders
    // arithmetic (Q1 = k%97, re-filed k%97+1 for even k, newer wins;
    // Q2 = 'S'||k%3; Q1 named by the metadata dim, Q2 a placeholder
    // surfacing its raw id) rendered as turns + the q213 cumsum
    "q233_wire_sft" -> WireSftOracleSql
  )

  /** q233/q237: the bridge replay — forms-fold outcome from orders
    * arithmetic rendered as turns + the q213 cumsum.
    */
  private lazy val WireSftOracleSql: String =
      """WITH f AS (SELECT CAST(o_orderkey AS BIGINT) AS k
        |  FROM orders),
        |t AS (SELECT k AS conv_id, 0 AS turn_idx, 'user' AS role,
        |   'Numeric score' AS text FROM f
        | UNION ALL
        | SELECT k, 1, 'assistant', CAST(CASE WHEN k % 2 = 0
        |   THEN k % 97 + 1 ELSE k % 97 END AS VARCHAR) FROM f
        | UNION ALL
        | SELECT k, 2, 'user', 'Q2' FROM f
        | UNION ALL
        | SELECT k, 3, 'assistant', 'S' || CAST(k % 3 AS VARCHAR)
        |  FROM f),
        |p AS (SELECT conv_id, turn_idx, role,
        |  '<|' || role || '|> ' || text AS piece,
        |  1 + len(list_filter(string_split_regex(trim(text), '\s+'),
        |    x -> len(x) > 0)) AS n_tokens
        | FROM t),
        |s AS (SELECT conv_id, turn_idx, role, piece, n_tokens,
        |  SUM(n_tokens) OVER (PARTITION BY conv_id ORDER BY turn_idx
        |    ROWS UNBOUNDED PRECEDING) AS end_tok
        | FROM p)
        |SELECT CAST(conv_id AS BIGINT) AS conv_id,
        | CAST(turn_idx AS BIGINT) AS turn_idx, role, piece,
        | CAST(end_tok - n_tokens AS BIGINT) AS start_tok,
        | CAST(end_tok AS BIGINT) AS end_tok,
        | CAST(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END
        |   AS BIGINT) AS in_loss
        |FROM s ORDER BY conv_id, turn_idx""".stripMargin

  /** q228: the preference-pair replay — q212's mining CTEs, the
    * chosen argmax (s4 DESC, pos_id ASC), gap ≥ 50, rank ≤ 2, and
    * the q186-family signature chain flagging contaminated prompts
    * (prompt ids < 8 vs benchmark ids ≡ 0 mod 20; prompt 0 IS a
    * benchmark member — est 1.0, always killed).
    */
  private lazy val DpoPairsOracleSql: String = materializeCtes(
    s"""WITH q AS (SELECT vec_id AS query_id,
       |  CAST(embedding AS DOUBLE[]) AS qv
       | FROM embeddings WHERE vec_id < 8),
       |c AS (SELECT vec_id AS neighbor_id,
       |  CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
       |p AS (SELECT query_id, query_id + 50 AS pos_id FROM q
       | UNION ALL SELECT query_id, query_id * 3 + 100 FROM q),
       |sx AS (SELECT query_id, neighbor_id,
       |  CAST(round(list_cosine_similarity(qv, cv) * 10000, 0)
       |    AS BIGINT) AS s4
       | FROM q, c WHERE query_id <> neighbor_id),
       |ps AS (SELECT s.query_id, MAX(s.s4) AS pos_s4
       | FROM sx s JOIN p ON s.query_id = p.query_id
       |  AND s.neighbor_id = p.pos_id
       | GROUP BY s.query_id),
       |neg AS (SELECT s.query_id, s.neighbor_id, s.s4
       | FROM sx s JOIN ps USING (query_id)
       | WHERE s.s4 * 10000 <= ps.pos_s4 * 9000
       |  AND NOT EXISTS (SELECT 1 FROM p
       |   WHERE p.query_id = s.query_id AND p.pos_id = s.neighbor_id)),
       |rr AS (SELECT query_id, neighbor_id, s4,
       |  row_number() OVER (PARTITION BY query_id
       |   ORDER BY s4 DESC, neighbor_id) AS rank FROM neg),
       |chs AS (SELECT query_id, pos_id AS chosen_id,
       |  s4 AS chosen_s4 FROM (
       |  SELECT s.query_id, p.pos_id, s.s4,
       |   row_number() OVER (PARTITION BY s.query_id
       |    ORDER BY s.s4 DESC, p.pos_id) AS rn
       |  FROM sx s JOIN p ON s.query_id = p.query_id
       |   AND s.neighbor_id = p.pos_id)
       | WHERE rn = 1),
       |asm AS (SELECT ch.query_id AS prompt_id, ch.chosen_id,
       |  rk.neighbor_id AS rejected_id,
       |  row_number() OVER (PARTITION BY ch.query_id
       |   ORDER BY rk.s4 DESC, rk.neighbor_id) AS pair_rank,
       |  ch.chosen_s4, rk.s4 AS rejected_s4
       | FROM chs ch JOIN rr rk ON rk.query_id = ch.query_id
       | WHERE rk.rank <= 5
       |  AND ch.chosen_s4 - rk.s4 >= 50),
       |${minhashSigCtesSql(2)},
       |dpr AS (SELECT DISTINCT x.doc_id AS prompt_id,
       |  y.doc_id AS bench_id
       | FROM bnd x JOIN bnd y ON x.band = y.band
       |  AND x.bucket = y.bucket
       | WHERE x.doc_id < 8 AND y.doc_id % 20 = 0),
       |dflag AS (SELECT DISTINCT prompt_id FROM (
       |  SELECT p.prompt_id, p.bench_id,
       |   SUM(CASE WHEN sa.m = sb.m THEN 1 ELSE 0 END) / 64.0 AS est
       |  FROM dpr p JOIN sigj sa ON sa.doc_id = p.prompt_id
       |  JOIN sigj sb ON sb.doc_id = p.bench_id AND sb.j = sa.j
       |  GROUP BY 1, 2) WHERE est >= 0.5)
       |SELECT a.prompt_id, a.chosen_id, a.rejected_id,
       | CAST(a.pair_rank AS BIGINT) AS pair_rank,
       | a.chosen_s4 / 10000.0 AS chosen_sim,
       | a.rejected_s4 / 10000.0 AS rejected_sim
       |FROM asm a
       |WHERE a.pair_rank <= 2 AND NOT EXISTS
       | (SELECT 1 FROM dflag f WHERE f.prompt_id = a.prompt_id)
       |ORDER BY a.prompt_id, a.pair_rank""".stripMargin)

  /** q219/q226 SFT packing replay — shared turn CTEs →
    * per-conversation token widths → the q87 cumsum layout.
    */
  private lazy val SftPackOracleSql: String =
    s"""WITH $SftTurnCtesSql,
       |rw AS (SELECT conv_id AS doc_id, conv_id % 4 AS stream,
       |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
       | FROM p GROUP BY conv_id),
       |cz AS (SELECT stream, doc_id, n_tokens,
       |  CAST(SUM(n_tokens) OVER (PARTITION BY stream ORDER BY doc_id
       |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS end_tok FROM rw)
       |SELECT stream, doc_id, n_tokens, end_tok,
       | end_tok - n_tokens AS start_tok,
       | CAST((end_tok - n_tokens) // 64 AS BIGINT) AS first_chunk,
       | CAST((end_tok - 1) // 64 AS BIGINT) AS last_chunk
       |FROM cz ORDER BY stream, doc_id""".stripMargin

  /** q163's chunk replay, prefix-parameterized (the funnelRulesSql
    * discipline — the 16/12 window constants live here ONLY): CTEs
    * `${p}cb` (doc_id, ws), `${p}cc` (+ chunk index ci), and `${p}ct`
    * (chunk_idx, start_tok, the sliced token list).
    */
  private def chunkCtesSql(p: String,
                           src: String = "documents"): String =
    s"""${p}cb AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
       |  list_filter(string_split_regex(trim(text), '\\s+'),
       |    x -> len(x) > 0) AS ws
       | FROM $src),
       |${p}cc AS (SELECT doc_id, ws,
       |  unnest(range(0, 1 + greatest(len(ws) - 16 + 11, 0) // 12))
       |    AS ci
       | FROM ${p}cb WHERE len(ws) > 0),
       |${p}ct AS (SELECT doc_id, CAST(ci AS BIGINT) AS chunk_idx,
       |  CAST(ci * 12 AS BIGINT) AS start_tok,
       |  ws[CAST(ci * 12 AS INT) + 1 : CAST(ci * 12 AS INT) + 16]
       |    AS chunk
       | FROM ${p}cc)""".stripMargin

  /** The chunk→embed front of every RAG oracle (expects the
    * [[chunkCtesSql]] CTEs upstream): chunk ids, the q121
    * signed-bucket embedding per chunk, zero vectors dropped. Ends at
    * `v` (chunk_id, v: double list).
    */
  private def ragEmbedCtesSql: String =
    s"""chunks AS (SELECT doc_id * 100 + chunk_idx AS chunk_id,
       |  array_to_string(chunk, ' ') AS chunk_text
       | FROM ct),
       |tok AS (SELECT chunk_id,
       |  unnest(string_split_regex(trim(chunk_text), '\\s+')) AS tok
       | FROM chunks),
       |fx AS (SELECT chunk_id,
       |  ${polyHashSql("tok")} % 32 AS b,
       |  CASE WHEN ${polyHashSql("tok || '|sign'")} % 2 = 0
       |    THEN 1 ELSE -1 END AS sgn
       | FROM tok),
       |ag AS (SELECT chunk_id, b, SUM(sgn) AS c FROM fx
       | GROUP BY chunk_id, b),
       |dense AS (SELECT c0.chunk_id, i.b, COALESCE(ag.c, 0) AS c
       | FROM (SELECT DISTINCT chunk_id FROM chunks) c0
       | CROSS JOIN (SELECT unnest(range(32)) AS b) i
       | LEFT JOIN ag ON ag.chunk_id = c0.chunk_id AND ag.b = i.b),
       |v AS (SELECT chunk_id, list(CAST(c AS DOUBLE) ORDER BY b) AS v
       | FROM dense GROUP BY chunk_id
       | HAVING SUM(c * c) > 0)""".stripMargin

  /** The modular-cluster retrieval tail (quantize → own+next probe →
    * integer-dot rank), parameterized over the query sampling mod.
    * Ends at `r` (query_id, neighbor_id, sim, rank).
    */
  private def ragModularTailSql(queryMod: Long): String =
    s"""qv AS (SELECT chunk_id,
       |  list_transform(v, x -> floor((x * 127) /
       |    list_max(list_transform(v, y -> abs(y))))) AS q
       | FROM v),
       |n AS (SELECT chunk_id, q,
       |  sqrt(list_dot_product(q, q)) AS nrm FROM qv),
       |p AS (SELECT chunk_id AS query_id, q AS qq, nrm AS qn,
       |  unnest(list_distinct([chunk_id % 4, (chunk_id + 1) % 4]))
       |    AS probe
       | FROM n WHERE chunk_id % $queryMod = 0),
       |sx AS (SELECT query_id, c.chunk_id AS neighbor_id,
       |  round(list_dot_product(qq, c.q) / (qn * c.nrm), 4) + 0.0
       |    AS sim
       | FROM p JOIN n c ON probe = c.chunk_id % 4
       |   AND query_id <> c.chunk_id),
       |r AS (SELECT query_id, neighbor_id, sim, row_number() OVER
       |  (PARTITION BY query_id ORDER BY sim DESC, neighbor_id)
       |    AS rank
       | FROM sx)""".stripMargin

  private val RagTopKSelectSql: String =
    """SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, sim
      |FROM r WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin

  private val RagVerticalOracleSql: String =
    s"""WITH ${chunkCtesSql("")},
       |$ragEmbedCtesSql,
       |${ragModularTailSql(5000L)}
       |$RagTopKSelectSql""".stripMargin

  /** q177: the q157 funnel (shared rule chain) gates the document set
    * BEFORE chunking; the retrieval tail is the q164 machinery over
    * the surviving chunks (wider query sampling — the gated corpus is
    * smaller).
    */
  private val RagGatedOracleSql: String = materializeCtes(
    s"""WITH ${funnelRulesSql("")},
       |fk AS (SELECT doc_id FROM rules WHERE keep),
       |${chunkCtesSql("",
          "(SELECT d.doc_id, d.text FROM documents d JOIN fk USING (doc_id))")},
       |$ragEmbedCtesSql,
       |${ragModularTailSql(2000L)}
       |$RagTopKSelectSql""".stripMargin)

  /** q195: the q177 gated-RAG chain sourced from the WIRE round trip —
    * the TX report text is the sanitized document text by
    * construction, so the oracle derives it straight from `documents`
    * (the q59 prediction convention) and replays funnel→chunk→embed→
    * probe over it.
    */
  private val WireRagOracleSql: String = materializeCtes(
    s"""WITH wsrc AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
       |  regexp_replace(COALESCE(text, ''), '[^A-Za-z0-9 ]', '', 'g')
       |    AS text
       | FROM documents),
       |${funnelRulesSql("", src = "wsrc")},
       |fk AS (SELECT doc_id FROM rules WHERE keep),
       |${chunkCtesSql("",
          "(SELECT d.doc_id, d.text FROM wsrc d JOIN fk USING (doc_id))")},
       |$ragEmbedCtesSql,
       |${ragModularTailSql(2000L)}
       |$RagTopKSelectSql""".stripMargin)

  /** The q173/q174 line-cleaning replay front: the [[linePages]]
    * fixture, trimmed non-empty lines, and the four per-line rule
    * booleans. Ends at `lfl` (doc_id, i, l, r_dup, r_short, r_caps,
    * r_sym) + `lls` (doc_id, ls).
    */
  private def lineRuleCtesSql(pageCte: String): String =
    s"""lls AS (SELECT doc_id,
      |  list_filter(list_transform(string_split(trim(text), chr(10)),
      |    x -> trim(x)), x -> len(x) > 0) AS ls
      | FROM $pageCte),
      |lix AS (SELECT doc_id, ls, CAST(i AS BIGINT) AS i,
      |  ls[CAST(i AS INT) + 1] AS l
      | FROM (SELECT doc_id, ls, unnest(range(len(ls))) AS i FROM lls)),
      |lfl AS (SELECT doc_id, i, l,
      |  len(list_filter(ls[1:CAST(i AS INT)], x -> x = l)) > 0 AS r_dup,
      |  len(list_filter(string_split_regex(l, '\\s+'),
      |    x -> len(x) > 0)) < 3 AS r_short,
      |  (upper(l) = l AND regexp_matches(l, '[A-Za-z]')) AS r_caps,
      |  (len(l) - len(regexp_replace(l, '[^A-Za-z0-9 ]', '', 'g')))
      |    * 10000 > len(l) * 1500 AS r_sym
      | FROM lix)""".stripMargin

  private val LineCleanCtesSql: String =
    s"""lpg AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |  'HOME | LOGIN | SEARCH' || chr(10) ||
      |  COALESCE(trim(text), '') || chr(10) || 'share' || chr(10) ||
      |  COALESCE(trim(text), '') || chr(10) || '= = = = =' ||
      |  chr(10) || 'COPYRIGHT 2024 ACME' AS text
      | FROM documents),
      |${lineRuleCtesSql("lpg")}""".stripMargin

  /** Kept-line reassembly + counts over the `lfl`/`lls` rule CTEs —
    * the [[graft.operators.TextAnalysis.cleanLines]] output shape,
    * shared by q173 (linePages fixture) and q185 (HTML-extracted
    * pages).
    */
  private val CleanLinesTailSql: String =
    """lkp AS (SELECT doc_id, i, l FROM lfl
       | WHERE NOT (r_dup OR r_short OR r_caps OR r_sym)),
       |lag_ AS (SELECT doc_id, COUNT(*) AS n_kept,
       |  string_agg(l, chr(10) ORDER BY i) AS clean_text
       | FROM lkp GROUP BY doc_id),
       |lnl AS (SELECT doc_id, len(ls) AS n_lines FROM lls)
       |SELECT lnl.doc_id, CAST(lnl.n_lines AS BIGINT) AS n_lines,
       | CAST(COALESCE(lag_.n_kept, 0) AS BIGINT) AS n_kept,
       | CAST(lnl.n_lines - COALESCE(lag_.n_kept, 0) AS BIGINT)
       |   AS n_removed,
       | COALESCE(lag_.clean_text, '') AS clean_text
       |FROM lnl LEFT JOIN lag_ USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  /** q173: per-doc kept-line reassembly + counts. */
  private val CleanLinesOracleSql: String =
    s"""WITH $LineCleanCtesSql,
       |$CleanLinesTailSql""".stripMargin

  /** The q184/q185 HTML replay: the [[htmlPages]] fixture synthesized
    * in SQL, then the five extraction passes of
    * [[graft.operators.TextAnalysis.htmlToText]] — comment strip,
    * content-bearing element removal (script/style/title, in the
    * Scala fold's order), block tags → chr(10), remaining tags → '',
    * entity decode with `&amp;` LAST — and the trimmed non-empty line
    * reassembly. Ends at `hout` (doc_id, n_raw_chars, n_lines, text).
    */
  private val HtmlExtractCtesSql: String =
    """hpg AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |  '<html><head><title>ignore me</title><style>' || chr(10) ||
      |  '.nav { display:none }' || chr(10) ||
      |  '</style><script type="text/js">' || chr(10) ||
      |  'if (a<b && c>d) { run(); }' || chr(10) ||
      |  '</script></head>' || chr(10) ||
      |  '<body><!-- generated' || chr(10) || ' page -->' ||
      |  '<h1>DOC ' || CAST(doc_id AS VARCHAR) || '</h1>' ||
      |  '<ul><li>Home</li><li>Share &amp; Like</li></ul>' ||
      |  '<p>' || replace(COALESCE(trim(text), ''), 'batch',
      |    '<b>batch</b>') || '</p>' ||
      |  CASE WHEN doc_id % 3 = 0 THEN
      |    '<div>&quot;q&quot; &lt;tag&gt; &#39;x&#39;&nbsp;end ' ||
      |    '&amp;lt;literal</div>' ELSE '' END ||
      |  '<footer>COPYRIGHT 2026</footer></body></html>' AS html
      | FROM documents),
      |hst AS (SELECT doc_id, CAST(len(html) AS BIGINT) AS n_raw_chars,
      |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      |    html, '(?s)<!--.*?-->', '', 'g'),
      |    '(?is)<script[^>]*>.*?</script\s*>', '', 'g'),
      |    '(?is)<style[^>]*>.*?</style\s*>', '', 'g'),
      |    '(?is)<title[^>]*>.*?</title\s*>', '', 'g') AS s
      | FROM hpg),
      |hbk AS (SELECT doc_id, n_raw_chars,
      |  regexp_replace(regexp_replace(s,
      |    '(?i)</?(?:p|div|br|hr|h[1-6]|li|ul|ol|dl|dt|dd|tr|td|th|' ||
      |    'table|thead|tbody|blockquote|pre|section|article|aside|' ||
      |    'nav|header|footer|head|body|html|form)(?:[\s/][^>]*)?>',
      |    chr(10), 'g'), '<[^>]*>', '', 'g') AS s
      | FROM hst),
      |hdc AS (SELECT doc_id, n_raw_chars,
      |  replace(replace(replace(replace(replace(replace(s,
      |    '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
      |    '&#39;', chr(39)), '&nbsp;', ' '), '&amp;', '&') AS s
      | FROM hbk),
      |hout AS (SELECT doc_id, n_raw_chars,
      |  CAST(len(list_filter(list_transform(string_split(s, chr(10)),
      |    x -> trim(x)), x -> len(x) > 0)) AS BIGINT) AS n_lines,
      |  array_to_string(list_filter(list_transform(
      |    string_split(s, chr(10)), x -> trim(x)), x -> len(x) > 0),
      |    chr(10)) AS text
      | FROM hdc)""".stripMargin

  /** q184: the extraction alone. */
  private val HtmlExtractOracleSql: String =
    s"""WITH $HtmlExtractCtesSql
       |SELECT doc_id, n_raw_chars, n_lines, text FROM hout
       |ORDER BY doc_id""".stripMargin

  /** q185: extraction composed with the line cleaner — one oracle
    * replaying both stages (the extracted nav chrome is the line
    * rules' prey: `DOC n` → r_caps, `Home` → r_short, the entity div
    * → r_sym).
    */
  private val HtmlCleanOracleSql: String =
    s"""WITH $HtmlExtractCtesSql,
       |${lineRuleCtesSql("hout")},
       |$CleanLinesTailSql""".stripMargin

  /** q196: the full web front — extraction → line cleaner → quality
    * funnel, each stage's replay feeding the next (the q157 rules
    * over the CLEANED text).
    */
  private val WebFrontOracleSql: String = materializeCtes(
    s"""WITH $HtmlExtractCtesSql,
       |${lineRuleCtesSql("hout")},
       |wlk AS (SELECT doc_id, i, l FROM lfl
       | WHERE NOT (r_dup OR r_short OR r_caps OR r_sym)),
       |wlg AS (SELECT doc_id, string_agg(l, chr(10) ORDER BY i) AS text
       | FROM wlk GROUP BY doc_id),
       |wcl AS (SELECT h.doc_id, COALESCE(wlg.text, '') AS text
       | FROM hout h LEFT JOIN wlg USING (doc_id)),
       |${funnelRulesSql("", src = "wcl")}
       |SELECT doc_id, n_tokens, lang_guess, r_len, r_avg_len,
       | r_stop, r_rep, r_lang, keep
       |FROM rules ORDER BY doc_id""".stripMargin)

  /** q174: per-rule line-fail counts + the kept total. */
  private val LineReportOracleSql: String =
    s"""WITH $LineCleanCtesSql,
       |lagg AS (SELECT
       |  SUM(CASE WHEN r_dup THEN 1 ELSE 0 END) AS f_dup,
       |  SUM(CASE WHEN r_short THEN 1 ELSE 0 END) AS f_short,
       |  SUM(CASE WHEN r_caps THEN 1 ELSE 0 END) AS f_caps,
       |  SUM(CASE WHEN r_sym THEN 1 ELSE 0 END) AS f_sym,
       |  SUM(CASE WHEN NOT (r_dup OR r_short OR r_caps OR r_sym)
       |    THEN 1 ELSE 0 END) AS kept
       | FROM lfl)
       |SELECT 'r_dup' AS rule, CAST(f_dup AS BIGINT) AS n FROM lagg
       |UNION ALL SELECT 'r_short', CAST(f_short AS BIGINT) FROM lagg
       |UNION ALL SELECT 'r_caps', CAST(f_caps AS BIGINT) FROM lagg
       |UNION ALL SELECT 'r_sym', CAST(f_sym AS BIGINT) FROM lagg
       |UNION ALL SELECT 'kept', CAST(kept AS BIGINT) FROM lagg
       |ORDER BY rule""".stripMargin

  /** The TRAINED-centroid RAG chain (q170/q171): the shared chunk +
    * embed front, then the q90-pattern spherical Lloyd's (rounded-
    * cosine argmax assignment, exact floor(x·10⁴) integer means,
    * 4-lowest-id init) trained on batch 1's SAMPLED chunks
    * (doc parity 0, chunk_id % 2 = 0 — the q136 practice), the FROZEN
    * final centroids assigning every chunk and probing each query's 2
    * nearest, and the quantized integer-dot rank. Ends at `r`.
    */
  /** Engine-portable cosine-Lloyd CTE builders (the exact
    * [[graft.operators.Ann.ivfTrainPortable]] semantics: rounded-cos
    * argmax assignment with lowest-cid ties, floor(x·10⁴)
    * integer-mean update, empty clusters keep their centroid) — ONE
    * definition shared by the trained-RAG chain (q170/q171) and the
    * drift/retrain replays (q193/q194).
    */
  private def cosAssignSql(src: String, cents: String,
                           out: String): String =
    s"""$out AS (SELECT vec_id, v, cid FROM (
       |  SELECT e.vec_id, e.v, c.cid, row_number() OVER (
       |    PARTITION BY e.vec_id
       |    ORDER BY round(list_cosine_similarity(e.v, c.cv), 4) + 0.0
       |      DESC, c.cid) AS rn
       |  FROM $src e CROSS JOIN $cents c) WHERE rn = 1)""".stripMargin

  private def lloydUpdateSql(prevCents: String, asg: String,
                             out: String): String =
    s"""${out}n AS (SELECT cid,
       |  list(CAST(s AS DOUBLE) / (n * 10000.0) ORDER BY i) AS cv
       | FROM (SELECT cid, i,
       |    SUM(CAST(floor(x * 10000) AS BIGINT)) AS s, COUNT(*) AS n
       |   FROM (SELECT cid, unnest(v) AS x,
       |      unnest(range(len(v))) AS i FROM $asg)
       |   GROUP BY cid, i) GROUP BY cid),
       |$out AS (SELECT p.cid, COALESCE(nn.cv, p.cv) AS cv
       | FROM $prevCents p LEFT JOIN ${out}n nn USING (cid))"""
      .stripMargin

  /** Full 2-iter cosine-Lloyd over `src` (vec_id, v) with k-lowest-id
    * init — centroids end at `${pfx}2`.
    */
  private def cosLloydCtesSql(src: String, k: Int,
                              pfx: String): String =
    s"""${pfx}0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1
       |  AS cid, v AS cv
       | FROM (SELECT vec_id, v FROM $src ORDER BY vec_id LIMIT $k)),
       |${cosAssignSql(src, s"${pfx}0", s"${pfx}a1")},
       |${lloydUpdateSql(s"${pfx}0", s"${pfx}a1", s"${pfx}1")},
       |${cosAssignSql(src, s"${pfx}1", s"${pfx}a2")},
       |${lloydUpdateSql(s"${pfx}1", s"${pfx}a2", s"${pfx}2")}"""
      .stripMargin

  private val RagTrainedChainSql: String = {
    def assign(src: String, cents: String, out: String) =
      cosAssignSql(src, cents, out)
    def update(prevCents: String, asg: String, out: String) =
      lloydUpdateSql(prevCents, asg, out)
    s"""${chunkCtesSql("")},
       |$ragEmbedCtesSql,
       |ex AS (SELECT chunk_id AS vec_id, v FROM v),
       |trn AS (SELECT vec_id, v FROM ex
       | WHERE (vec_id // 100) % 2 = 0 AND vec_id % 2 = 0),
       |tc0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
       |  v AS cv FROM (SELECT vec_id, v FROM trn ORDER BY vec_id
       |    LIMIT 4)),
       |${assign("trn", "tc0", "ta1")},
       |${update("tc0", "ta1", "tc1")},
       |${assign("trn", "tc1", "ta2")},
       |${update("tc1", "ta2", "tc2")},
       |${assign("ex", "tc2", "asg")},
       |qzv AS (SELECT vec_id,
       |  list_transform(v, x -> floor((x * 127) /
       |    list_max(list_transform(v, y -> abs(y))))) AS q
       | FROM ex),
       |n AS (SELECT qzv.vec_id, asg.cid AS cl, q,
       |  sqrt(list_dot_product(q, q)) AS nrm
       | FROM qzv JOIN asg ON qzv.vec_id = asg.vec_id),
       |qp AS (SELECT vec_id AS query_id, cid AS probe FROM (
       |  SELECT e.vec_id, c.cid, row_number() OVER (
       |    PARTITION BY e.vec_id
       |    ORDER BY round(list_cosine_similarity(e.v, c.cv), 4) + 0.0
       |      DESC, c.cid) AS rn
       |  FROM ex e CROSS JOIN tc2 c WHERE e.vec_id % 5000 = 0)
       | WHERE rn <= 2),
       |sx AS (SELECT qp.query_id, c.vec_id AS neighbor_id,
       |  round(list_dot_product(a.q, c.q) / (a.nrm * c.nrm), 4) + 0.0
       |    AS sim
       | FROM qp JOIN n a ON a.vec_id = qp.query_id
       | JOIN n c ON c.cl = qp.probe AND c.vec_id <> qp.query_id),
       |r AS (SELECT query_id, neighbor_id, sim, row_number() OVER
       |  (PARTITION BY query_id ORDER BY sim DESC, neighbor_id)
       |    AS rank
       | FROM sx)""".stripMargin
  }

  private val RagTrainedOracleSql: String = materializeCtes(
    s"WITH $RagTrainedChainSql\n$RagTopKSelectSql")

  /** q171: the q170 chain's top-3 vs exact float-cosine top-3 over
    * the same chunk embeddings, per-query hit counts (the q167 recall
    * metric over the whole chunk→probe chain).
    */
  private val RagTrainedRecallOracleSql: String = materializeCtes(
    s"""WITH $RagTrainedChainSql,
       |approx AS (SELECT query_id, neighbor_id FROM r WHERE rank <= 3),
       |bfx AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
       |  round(list_cosine_similarity(a.v, b.v), 4) + 0.0 AS sim
       | FROM ex a JOIN ex b ON a.vec_id <> b.vec_id
       | WHERE a.vec_id % 5000 = 0),
       |exact AS (SELECT query_id, neighbor_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY sim DESC, neighbor_id) AS rank FROM bfx)
       | WHERE rank <= 3),
       |hits AS (SELECT a.query_id, COUNT(*) AS n_hit
       | FROM approx a JOIN exact x
       |   ON a.query_id = x.query_id AND a.neighbor_id = x.neighbor_id
       | GROUP BY a.query_id)
       |SELECT qq.query_id, CAST(3 AS BIGINT) AS k,
       | CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
       | CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / 3.0 AS recall
       |FROM (SELECT DISTINCT query_id FROM exact) qq
       |LEFT JOIN hits h USING (query_id) ORDER BY query_id""".stripMargin)

  /** The IVF-SQ8 search replay (q78's probe convention over the q155
    * quantized lists), parameterized by the candidate SURVIVOR
    * predicate — `TRUE` for the delete-free lanes; the q178/q179
    * tombstone lanes restrict the candidate set to the rows their
    * delete choreography leaves alive (queries are external and
    * unaffected).
    */
  private def ivfSq8OracleSql(survivors: String): String =
    s"""WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
      |  CAST(label AS BIGINT) AS label FROM embeddings),
      |qv AS (SELECT vec_id, label,
      |  list_transform(v, x -> floor((x * 127) /
      |    list_max(list_transform(v, y -> abs(y))))) AS q
      | FROM base
      | WHERE list_max(list_transform(v, y -> abs(y))) > 0),
      |n AS (SELECT vec_id, label, q,
      |  sqrt(list_dot_product(q, q)) AS nrm FROM qv),
      |p AS (SELECT vec_id AS query_id, q AS qq, nrm AS qn,
      |  unnest(list_distinct([label, (label + 1) %
      |    (SELECT MAX(label) + 1 FROM embeddings)])) AS probe
      | FROM n WHERE vec_id < 8),
      |sx AS (SELECT query_id, c.vec_id AS neighbor_id,
      |  round(list_dot_product(qq, c.q) / (qn * c.nrm), 4) + 0.0 AS sim
      | FROM p JOIN n c ON probe = c.label AND query_id <> c.vec_id
      |   AND ($survivors)),
      |r AS (SELECT query_id, neighbor_id, sim, row_number() OVER
      |  (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
      | FROM sx)
      |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, sim
      |FROM r WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin

  /** Shared by q159 (in-memory IVF-SQ8) and q160 (persisted code
    * layers + compaction).
    */
  private val IvfSq8OracleSql: String = ivfSq8OracleSql("TRUE")

  /** The q193/q194 drifted-corpus front: batch 1 = even ids as-is,
    * batch 2 = odd ids REVERSED (a deterministic distribution move).
    * Ends at `db1`/`db2`/`dall` (vec_id, v).
    */
  private val DriftCorpusCtesSql: String =
    """dex AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      |  FROM embeddings),
      |db1 AS (SELECT vec_id, v FROM dex WHERE vec_id % 2 = 0),
      |db2 AS (SELECT vec_id, list_reverse(v) AS v FROM dex
      | WHERE vec_id % 2 = 1),
      |dall AS (SELECT vec_id, v FROM db1
      | UNION ALL SELECT vec_id, v FROM db2)""".stripMargin

  /** q193: centroids = cosine-Lloyd over batch 1 (the exact
    * ivfTrainPortable replay); every stored code's angular residual
    * vs its assigned centroid, both sides quantized through the SAME
    * floor(x·127/max) scheme; per (layer, cluster) exact-integer mean
    * of (1 − cos)·10⁴.
    */
  private val IvfDriftOracleSql: String = materializeCtes(
    s"""WITH $DriftCorpusCtesSql,
       |${cosLloydCtesSql("db1", 4, "dc")},
       |drows AS (SELECT 1 AS layer_batch, vec_id, v FROM db1
       | UNION ALL SELECT 2, vec_id, v FROM db2),
       |${cosAssignSql("drows", "dc2", "dag")},
       |dq AS (SELECT layer_batch, vec_id,
       |  list_transform(v, x -> floor(x * 127 / amax)) AS q
       | FROM (SELECT layer_batch, vec_id, v,
       |   list_max(list_transform(v, y -> abs(y))) AS amax FROM drows)
       | WHERE amax > 0),
       |dcq AS (SELECT cid,
       |  list_transform(cv, x -> floor(x * 127 / camax)) AS cq
       | FROM (SELECT cid, cv,
       |   list_max(list_transform(cv, y -> abs(y))) AS camax FROM dc2)
       | WHERE camax > 0),
       |dres AS (SELECT q.layer_batch, a.cid AS cluster,
       |  10000 - CAST(floor(list_dot_product(q.q, c.cq) /
       |    (sqrt(list_dot_product(q.q, q.q)) *
       |     sqrt(list_dot_product(c.cq, c.cq))) * 10000) AS BIGINT)
       |    AS res
       | FROM dq q JOIN dag a ON a.vec_id = q.vec_id
       | JOIN dcq c ON c.cid = a.cid)
       |SELECT CAST(layer_batch AS BIGINT) AS layer_batch,
       | CAST(cluster AS BIGINT) AS cluster,
       | CAST(COUNT(*) AS BIGINT) AS n,
       | CAST(SUM(res) // COUNT(*) AS BIGINT) AS mean_res_10k
       |FROM dres GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)

  /** q194: a FRESH-build replay — Lloyd over the full drifted corpus,
    * SQ8 codes, 2-probe query — which the epoch-swapped index must
    * answer identically (retrain == rebuild is the checked property).
    */
  private val IvfRetrainOracleSql: String = materializeCtes(
    s"""WITH $DriftCorpusCtesSql,
       |${cosLloydCtesSql("dall", 4, "nc")},
       |${cosAssignSql("dall", "nc2", "nag")},
       |nq AS (SELECT vec_id,
       |  list_transform(v, x -> floor(x * 127 / amax)) AS q
       | FROM (SELECT vec_id, v,
       |   list_max(list_transform(v, y -> abs(y))) AS amax FROM dall)
       | WHERE amax > 0),
       |nn AS (SELECT nq.vec_id, nag.cid AS cl, q,
       |  sqrt(list_dot_product(q, q)) AS nrm
       | FROM nq JOIN nag ON nq.vec_id = nag.vec_id),
       |qp AS (SELECT vec_id AS query_id, cid AS probe FROM (
       |  SELECT e.vec_id, c.cid, row_number() OVER (
       |    PARTITION BY e.vec_id
       |    ORDER BY round(list_cosine_similarity(e.v, c.cv), 4) + 0.0
       |      DESC, c.cid) AS rn
       |  FROM dall e CROSS JOIN nc2 c WHERE e.vec_id < 8)
       | WHERE rn <= 2),
       |sx AS (SELECT qp.query_id, c.vec_id AS neighbor_id,
       |  round(list_dot_product(a.q, c.q) / (a.nrm * c.nrm), 4) + 0.0
       |    AS sim
       | FROM qp JOIN nn a ON a.vec_id = qp.query_id
       | JOIN nn c ON c.cl = qp.probe AND c.vec_id <> qp.query_id),
       |r AS (SELECT query_id, neighbor_id, sim, row_number() OVER
       |  (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
       | FROM sx)
       |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, sim
       |FROM r WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin)

  /** q178: fold evens → delete %3==0 (high-water 1) → fold odds.
    * Even multiples of 3 die (eff 1 ≤ upto 1); odd multiples of 3
    * arrive AFTER the delete (eff 2 > upto 1) and must survive — the
    * delete-kills-the-past-not-the-future contract.
    */
  private val VectorDeleteOracleSql: String = ivfSq8OracleSql(
    "(c.vec_id % 2 = 0 AND c.vec_id % 3 <> 0) OR c.vec_id % 2 = 1")

  /** q179: q178's choreography with a compaction applying the first
    * tombstone physically, then a SECOND delete (%5==1, high-water 2)
    * that must reach both the compact layer (effective id = absorbed
    * high-water) and the fresh batch.
    */
  private val VectorDeleteCompactedOracleSql: String = ivfSq8OracleSql(
    "((c.vec_id % 2 = 0 AND c.vec_id % 3 <> 0) OR c.vec_id % 2 = 1) " +
      "AND c.vec_id % 5 <> 1")

  /** Shared by q152 (one-shot) and q153 (persisted-index folds). */
  private val CutBoilerplateOracleSql: String =
    """WITH base AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |  string_split_regex(trim(text), '\s+') AS ws FROM documents),
      |wins AS (SELECT doc_id,
      |  unnest(range(1, len(ws) - 1)) - 1 AS win_idx,
      |  unnest(list_transform(range(1, len(ws) - 1),
      |    i -> array_to_string(ws[i:i + 2], ' '))) AS win
      | FROM base WHERE len(ws) >= 3),
      |hashed AS (SELECT doc_id, win_idx,
      |  list_reduce(list_prepend(CAST(0 AS BIGINT),
      |    list_transform(string_split(win, ''),
      |      c -> CAST(ascii(c) AS BIGINT))),
      |    (h, c) -> (h * 31 + c) % 2147483647) AS window_hash
      | FROM wins),
      |shared AS (SELECT window_hash FROM hashed
      | GROUP BY 1 HAVING COUNT(DISTINCT doc_id) > 5),
      |flg AS (SELECT DISTINCT h.doc_id, h.win_idx
      | FROM hashed h JOIN shared s USING (window_hash)),
      |toks AS (SELECT doc_id, CAST(i AS BIGINT) AS i,
      |  ws[CAST(i AS INT) + 1] AS tok
      | FROM (SELECT doc_id, ws, unnest(range(len(ws))) AS i FROM base)),
      |kept AS (SELECT t.doc_id, t.i, t.tok FROM toks t
      | WHERE NOT EXISTS (SELECT 1 FROM flg f
      |   WHERE f.doc_id = t.doc_id AND t.i >= f.win_idx
      |     AND t.i < f.win_idx + 3)),
      |agg AS (SELECT doc_id, COUNT(*) AS n_kept,
      |  string_agg(tok, ' ' ORDER BY i) AS clean_text
      | FROM kept GROUP BY doc_id)
      |SELECT b.doc_id, CAST(len(b.ws) AS BIGINT) AS n_tokens,
      | CAST(len(b.ws) - COALESCE(a.n_kept, 0) AS BIGINT) AS n_removed,
      | COALESCE(a.clean_text, '') AS clean_text
      |FROM base b LEFT JOIN agg a USING (doc_id)
      |ORDER BY b.doc_id""".stripMargin

}
