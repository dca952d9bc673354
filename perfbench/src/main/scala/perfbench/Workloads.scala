package perfbench

import java.util.SplittableRandom
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions.storedAsOf
import graft.streaming.{CurationStream, StarPipeline, WirePipeline}
import graft.operators.TextAnalysis
import perfbench.Main.{Ctx, Metric, Outcome}
import scala.collection.mutable.ArrayBuffer

/** The workloads. Each builds its input from the seed, sets up (timed as
  * `setup_s`, measured from JVM start), measures for the given seconds,
  * then checks its outputs against a one-shot reference.
  */
object Workloads {

  /** Offered rate of `adt_live`, messages per second: half the closed-loop
    * capacity measured at 1,000-message batches (see DESIGN.md). Fixed.
    */
  val AdtRate = 36.0

  /** Processing-time trigger interval of `adt_live`, seconds: the default
    * trigger of `WirePipeline.start`.
    */
  val TriggerS = 10.0

  /** `doc_curation` batch size, and batches folded in set-up: in a fresh
    * JVM the fold time falls fastest over the first four batches, then
    * keeps falling slowly.
    */
  val DocsBatch = 200
  val DocsWarmBatches = 5

  // ---------------------------------------------------------------- helpers

  private def elapsed(t0: Long) = (System.nanoTime() - t0) / 1e9

  private def s(v: Double) = Metric(v, "s")
  private def n(v: Double) = Metric(v, "count")

  private def endToEnd(setupS: Double, throughput: Double,
                       latencies: Seq[Double], stateBytes: Double,
                       records: Double, heapMb: Double): Map[String, Metric] =
    Map("setup_s" -> s(setupS),
      "throughput_per_s" -> Metric(throughput, "1/s"),
      "latency_s_p50" -> s(Stats.median(latencies)),
      "state_bytes_per_record" -> Metric(stateBytes / records.max(1.0), "B"),
      "heap_peak_mb" -> Metric(heapMb, "MB"))

  /** Every per-layer metric, from the spans inside the measured loop; a
    * layer the workload does not run reads 0.
    */
  private def perLayer(ctx: Ctx, stateRoots: Seq[String], scanS: Double,
                       backlog: Double, deadLettered: Double,
                       interpreted: Double): Map[String, Metric] = {
    val tr = ctx.tracer
    org.apache.spark.PerfbenchBus.drain(ctx.spark.sparkContext)
    val measure = tr.named("measure").head
    val in = (name: String) => tr.under(measure.id, name)
    def med(spans: Seq[Span]) = Stats.median(spans.map(_.seconds))
    def total(name: String, attr: String) =
      in(name).map(_.attrs.getOrElse(attr, 0.0)).sum
    def perBatch(attr: String) =
      Stats.median(in("state.diff").map(_.attrs.getOrElse(attr, 0.0)))
    val folds = in("streaming.fold")
    val foldS = folds.map(_.seconds)
    val parse = in("sources.parse").map(x => x.key -> x.seconds).toMap
    val kern = in("kernel.apply").map(x => x.key -> x.seconds).toMap
    val jobs = tr.jobsUnder(measure.id)
    val files = stateRoots.flatMap(r => StateProbe.files(r).values)
    val parseS = parse.values.toSeq
    Map(
      "sources.parse_s" -> s(Stats.median(parseS)),
      "sources.parse_msgs_per_s" -> Metric(
        total("sources.parse", "msgs") / parseS.sum.max(1e-9), "1/s"),
      "sources.interpreted_exprs" -> n(interpreted),
      "sources.rows_out" -> n(total("sources.parse", "rows_out")),
      "sources.dead_routed" -> n(total("sources.parse", "dead_routed")),
      "streaming.fold_s_p50" -> s(Stats.pct(foldS, 50)),
      "streaming.fold_s_p90" -> s(Stats.pct(foldS, 90)),
      "streaming.fold_self_s" -> s(Stats.median(folds.map(f =>
        f.seconds - parse.getOrElse(f.key, 0.0) - kern.getOrElse(f.key, 0.0)))),
      "streaming.jobs_per_batch" -> n(Stats.median(
        folds.map(f => tr.jobsUnder(f.id).size.toDouble))),
      "streaming.files_written_per_batch" -> n(perBatch("files_written")),
      "streaming.bytes_written_per_batch" -> Metric(perBatch("bytes_written"), "B"),
      "streaming.buckets_touched_per_batch" -> n(perBatch("buckets_touched")),
      "streaming.batch_msgs_p50" -> n(perBatch("msgs")),
      "streaming.backlog_end_msgs" -> n(backlog),
      "streaming.dead_lettered" -> n(deadLettered),
      "kernel.apply_s" -> s(med(in("kernel.apply"))),
      "kernel.rows_in" -> n(total("kernel.apply", "rows_in")),
      "kernel.versions_out" -> n(total("kernel.apply", "versions_out")),
      "state.files" -> n(files.size.toDouble),
      "state.bytes" -> Metric(files.sum.toDouble, "B"),
      "state.scan_s" -> s(scanS),
      "operators.read_s.occupancy" -> s(med(tr.named("operators.read.occupancy"))),
      "operators.read_s.mrn_map" -> s(med(tr.named("operators.read.mrn_map"))),
      "operators.read_s.belief_as_of" ->
        s(med(tr.named("operators.read.belief_as_of"))),
      "operators.select_s" -> s(med(in("operators.select"))),
      "spark.jobs" -> n(jobs.size.toDouble),
      "spark.stages" -> n(jobs.map(_.stages).sum.toDouble),
      "spark.tasks" -> n(jobs.map(_.tasks).sum.toDouble),
      "spark.job_s_p50" -> s(Stats.median(jobs.map(_.seconds))),
      "spark.task_run_s" -> s(jobs.map(_.taskRunS).sum),
      "spark.task_cpu_s" -> s(jobs.map(_.taskCpuS).sum),
      "spark.core_busy_ratio" -> Metric(
        jobs.map(_.taskRunS).sum / (measure.seconds * ctx.cores), "ratio"),
      "spark.gc_s" -> s(measure.gcS),
      "spark.shuffle_read_bytes" -> Metric(jobs.map(_.shuffleReadB).sum.toDouble, "B"),
      "spark.shuffle_write_bytes" -> Metric(jobs.map(_.shuffleWriteB).sum.toDouble, "B"),
      "spark.spill_bytes" -> Metric(jobs.map(_.spillB).sum.toDouble, "B"),
      // each measured batch span holds the fold plus everything tracing
      // adds around it (layer probes, state diff)
      "trace.overhead_ratio" -> Metric(
        in("batch").map(_.seconds).sum / foldS.sum.max(1e-9), "ratio"))
  }

  /** Expected digests, with one deliberately altered under
    * `--corrupt-expected`.
    */
  private def expect(ctx: Ctx, m: Map[String, String]): Map[String, String] =
    if (!ctx.corrupt || m.isEmpty) m
    else { val k = m.keys.min; m.updated(k, "corrupted-" + m(k)) }

  private def compare(what: String, expected: Map[String, String],
                      got: Map[String, String]): Seq[String] =
    (expected.keySet ++ got.keySet).toSeq.sorted.flatMap { k =>
      if (expected.get(k) == got.get(k)) None
      else Some(s"$what $k: expected ${expected.get(k)} got ${got.get(k)}")
    }

  private def timed(ctx: Ctx, name: String)(body: => Unit): Double =
    ctx.tracer.span(name, "end") {
      val t0 = System.nanoTime()
      body
      elapsed(t0)
    }

  // -------------------------------------------------------------- adt_live

  /** A star read view over the star at `root`, at valid time `t`; `stamp`
    * is the stored stamp of the star's last batch.
    */
  private def readView(spark: SparkSession, root: String, kind: String,
                       t: Long, stamp: Long): DataFrame = kind match {
    case "occupancy" =>
      WirePipeline.derived(spark, root, bitemporal = true).get.intervals
        .filter(col("admissionUs") <= t &&
          (col("dischargeUs").isNull || col("dischargeUs") > t))
    case "mrn_map" =>
      WirePipeline.derived(spark, root, bitemporal = true).get.mrnToLive
    case "belief_as_of" =>
      WirePipeline.readBelief(spark, root, "adt").get
        .filter(storedAsOf(lit(stamp), col("stored_from_us"),
          col("stored_until_us")) && col("validFromUs") <= t &&
          (col("valid_until_us").isNull || col("valid_until_us") > t))
        .drop("stored_from_us", "stored_until_us")
  }

  /** One trigger of an open loop: ADT messages fall due at [[AdtRate]],
    * and a trigger every [[TriggerS]] seconds folds the messages that fell
    * due over the interval it closes. Set-up folds the one-shot reference
    * star first, which in a fresh JVM is also the cold warm-up, then the
    * first interval. The measured window is the trigger that closes the
    * second interval, fired as set-up ends: a fold takes longer than the
    * interval, so the window holds that one trigger, whatever the run's
    * seconds. Late and repeated deliveries cross from the first interval
    * into the second. Latency is freshness: end of the commit, minus the
    * time a message fell due.
    */
  def adtLive(ctx: Ctx): Outcome = {
    val rnd = new SplittableRandom(ctx.seed)
    val tr = ctx.tracer
    val perTrigger = (AdtRate * TriggerS).toInt
    val live = Gen.deliver(rnd, Gen.adtMessages(rnd, 2 * perTrigger, "A"),
      malformedShare = 0.01, lateShare = 0.10, dupShare = 0.05,
      maxDelay = 100, tag = "A")
    val first = live.take(perTrigger)
    val second = live.slice(perTrigger, 2 * perTrigger)
    val committed = first ++ second
    val readT = 1704067200000000L + rnd.nextLong(30L * 86400L * 1000000L)
    val once = new WireLayers(ctx.spark, new Tracer(false, ctx.spark.sparkContext),
      ctx.dir("oneshot"))
    val wl = new WireLayers(ctx.spark, tr, ctx.dir("state"))
    tr.span("setup", "warm") {
      once.fold(Gen.distinct(committed), 1L, probe = false)
      wl.fold(first, 1L, probe = false)
    }
    val setupS = Main.sinceJvmStart
    val setupFailed = wl.failed

    // message k of the second interval fell due k / AdtRate seconds after
    // the interval opened, TriggerS seconds before the window's trigger
    val t0 = System.nanoTime()
    tr.span("measure", "loop") { wl.fold(second, 2L, probe = true) }
    val commitS = elapsed(t0)
    val fresh = second.indices.map(k => commitS + TriggerS - k / AdtRate)
    // the third interval's messages that fell due while the fold ran
    val backlog = (AdtRate * commitS).floor
    val heapMb = Jvm.heapAfterGcMb()

    // the order-robustness check: the incremental star equals a one-shot
    // fold of the deduplicated messages, and every injected malformed
    // frame is dead-lettered exactly once
    val expected = WireLayers.stateHashes(ctx.spark, once.root)
    val got = WireLayers.stateHashes(ctx.spark, wl.root)
    val dead = WireLayers.deadLettered(ctx.spark, wl.root)
    val injected = committed.count(_.malformed).toLong
    val deadMismatch =
      if (dead == injected) Nil
      else Seq(s"dead-lettered $dead rows, injected $injected malformed")

    // traced runs also time the star's read views, checked the same way
    val views = Seq("occupancy", "mrn_map", "belief_as_of")
    val (viewsExpected, viewsGot) =
      if (!tr.on) (Map.empty[String, String], Map.empty[String, String])
      else (
        views.map(v => v -> StateProbe.hash(
          readView(ctx.spark, once.root, v, readT, 1L))).toMap,
        views.map(v => v -> tr.span(s"operators.read.$v", "end") {
          StateProbe.hash(readView(ctx.spark, wl.root, v, readT, 2L))
        }).toMap)
    val mismatches = compare("state", expect(ctx, expected), got) ++
      deadMismatch ++ compare("read", viewsExpected, viewsGot)

    val stateBytes = StateProbe.files(wl.root).values.sum.toDouble
    Outcome(
      attempted = 1, failed = wl.failed - setupFailed,
      mismatches = mismatches,
      endToEnd = endToEnd(setupS, second.size / commitS, fresh,
        stateBytes, committed.size, heapMb),
      perLayer = if (!tr.on) Map.empty else perLayer(ctx, Seq(wl.root),
        timed(ctx, "state.scan") {
          StarPipeline.readBitemporal(ctx.spark, s"${wl.root}/adt").foreach(_.count())
        }, backlog, dead.toDouble, wl.interpreted.getOrElse(0).toDouble))
  }

  // ---------------------------------------------------------- doc_curation

  private val Targets = Map("en" -> 8000L, "es" -> 1500L, "de" -> 500L)

  /** Closed loop: documents folded through `CurationStream.foldBatch` in
    * [[DocsBatch]]-document batches over persisted decon, DSIR, span and
    * near-dup indexes while the seconds last, then one
    * `CurationStream.select` over everything folded, inside the measured
    * window. Set-up builds the indexes, folds the first batches and
    * selects once; `setup_s` counts that warm-up. Latency is the commit
    * latency of the batch holding a document.
    */
  def docCuration(ctx: Ctx): Outcome = {
    val rnd = new SplittableRandom(ctx.seed)
    val tr = ctx.tracer
    val spark = ctx.spark
    import spark.implicits._
    val docs = Gen.documents(rnd, 5000)
    def frame(ds: Seq[Gen.Doc]) =
      ds.map(d => (d.docId, d.text, d.lang)).toDF("doc_id", "text", "lang")
    val batches = docs.filter(_.docId % 20 != 0).grouped(DocsBatch).toIndexedSeq
    val benchIdx = ctx.dir("idx/bench")
    val dsirIdx = ctx.dir("idx/dsir")
    def config(tag: String) =
      CurationStream.Config(benchIdx, dsirIdx, ctx.dir(s"$tag/cur"), "doc_id",
        "text", "lang", keepFrac10k = 4000L,
        spanIdx = Some(ctx.dir(s"$tag/span")),
        nearDupIdx = Some(ctx.dir(s"$tag/neardup")))
    val cfg = config("inc")
    val roots = Seq(benchIdx, dsirIdx, cfg.curIdx) ++ cfg.spanIdx ++ cfg.nearDupIdx
    var failed = 0L
    def foldDocs(b: Seq[Gen.Doc], id: Long): Double =
      tr.span("batch", s"b$id") {
        val df = frame(b)
        val before =
          if (tr.on) roots.flatMap(StateProbe.files).toMap else Map.empty[String, Long]
        val t0 = System.nanoTime()
        try tr.span("streaming.fold", s"b$id") {
          CurationStream.foldBatch(df, id, cfg)
        } catch { case e: Exception =>
          failed += 1
          System.err.println(s"[perfbench] curation fold $id failed: $e")
        }
        val fs = elapsed(t0)
        if (tr.on) tr.spanAttrs("state.diff", s"b$id") {
          val after = roots.flatMap(StateProbe.files).toMap
          val fresh = after.keySet -- before.keySet
          Map("files_written" -> fresh.size.toDouble,
            "bytes_written" -> fresh.toSeq.map(after).sum.toDouble,
            "msgs" -> b.size.toDouble)
        }(identity)
        fs
      }
    tr.span("setup", "indexes") {
      val all = frame(docs)
      TextAnalysis.buildBenchmarkIndex(all.filter(col("doc_id") % 20 === 0),
        "text", shingleN = 5, indexDir = benchIdx)
      TextAnalysis.buildDsirIndex(all, all.filter(col("lang") === "en"),
        "doc_id", "text", nBuckets = 65536, scale = 1000000L,
        indexDir = dsirIdx)
      // select early, so the warm folds after it settle the JIT again
      foldDocs(batches.head, 1L)
      CurationStream.select(spark, cfg, Targets).collect()
      (1 until DocsWarmBatches).foreach(i => foldDocs(batches(i), i + 1L))
    }
    val setupS = Main.sinceJvmStart

    val lat = ArrayBuffer.empty[Double]
    var selects = 0L
    var selected: Option[Seq[String]] = None
    var done = DocsWarmBatches
    var loopS = 0.0
    tr.span("measure", "loop") {
      val t0 = System.nanoTime()
      while (elapsed(t0) < ctx.seconds && done < batches.size) {
        val fs = foldDocs(batches(done), done + 1L)
        lat ++= Seq.fill(batches(done).size)(fs)
        done += 1
      }
      selects += 1
      try tr.span("operators.select", s"b$done") {
        selected = Some(CurationStream.select(spark, cfg, Targets).collect()
          .map(_.toString).toSeq)
      } catch { case e: Exception =>
        failed += 1
        System.err.println(s"[perfbench] select after batch $done failed: $e")
      }
      loopS = elapsed(t0)
    }
    val heapMb = Jvm.heapAfterGcMb()

    // the selection over the incrementally folded indexes equals the one
    // from a single-batch fold of the same documents
    val folded = batches.take(done).flatten
    val got = Map("selection" -> selected.map(StateProbe.hashRows)
      .getOrElse(StateProbe.hash(CurationStream.select(spark, cfg, Targets))))
    val once = config("oneshot")
    CurationStream.foldBatch(frame(folded), 1L, once)
    val expected = Map("selection" ->
      StateProbe.hash(CurationStream.select(spark, once, Targets)))

    val stateBytes = roots.flatMap(r => StateProbe.files(r).values).sum.toDouble
    Outcome(
      attempted = (done - DocsWarmBatches) + selects, failed = failed,
      mismatches = compare("curation", expect(ctx, expected), got),
      endToEnd = endToEnd(setupS,
        batches.slice(DocsWarmBatches, done).map(_.size).sum / loopS,
        lat.toSeq, stateBytes, folded.size, heapMb),
      perLayer = if (!tr.on) Map.empty else perLayer(ctx, roots,
        timed(ctx, "state.scan") { spark.read.parquet(cfg.curIdx).count() },
        0, 0, 0))
  }
}
