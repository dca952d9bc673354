package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.GroupStateTimeout
import graft.sources.WaveformListener
import graft.streaming.WaveformCollator
import graft.streaming.WaveformCollator.Config

import java.io.PrintWriter
import java.net.ServerSocket

/** S5: the TCP front door — a real localhost socket feeds framed lines
  * through the parse → collate path.
  */
class WaveformListenerSpec extends SparkSpecBase {
  import spark.implicits._

  private def frame(loc: String, stream: String, t0: Long, rate: Int,
                    n: Int): String = {
    val vals = (0 until n).map(i => (i % 7).toDouble).mkString(",")
    s"$loc|$stream|$t0|$rate|uV|$vals"
  }

  test("frame parse: well-formed rows parse, malformed go to dead letter") {
    val lines = Seq(
      frame("LOC1", "300hz", 1000000L, 300, 5),
      "garbage line with no pipes",
      "LOC1|300hz|notanumber|300|uV|1,2,3",
      "LOC1|300hz|2000000|300|uV|1,zzz,3").toDF("value")
    val parsed = WaveformListener.parseFrames(lines, "value")
    val ok = WaveformListener.wellFormed(parsed).collect()
    assert(ok.length == 1)
    assert(ok.head.getAs[String]("locationId") == "LOC1" &&
      ok.head.getSeq[Double](ok.head.fieldIndex("values")).size == 5)
    assert(WaveformListener.malformed(parsed).count() == 3)
  }

  // ---- MLLP/HL7 path (the reference's actual wire contract) ----------

  private def hl7Wave(msgId: String, loc: String, stream: String,
                      dtm: String, vals: Seq[Double],
                      trig: String = "ORU^R01",
                      pv1Loc: String = null): String = {
    val v = vals.map(d => if (d == d.floor) d.toLong.toString else d.toString)
      .mkString("^")
    "" +
      Seq(s"MSH|^~\\&|CAPS|UCLH|||20240601120000||$trig|$msgId|P|2.4",
        s"PV1|1|I|${Option(pv1Loc).getOrElse(loc)}",
        s"OBR|1|||||||||$loc",
        s"OBX|1|NA|$stream||$v|||||||||$dtm").mkString("\r") +
      "\r"
  }

  private def md(rows: (String, Int, String, String, Boolean)*) =
    rows.toSeq.toDF("streamId", "samplingRate", "unit",
      "streamDescription", "usable")

  private def waveMeta = md(("52912", 100, "uV", "ECG II", true))

  private def waveConfig(root: String) =
    graft.streaming.WaveformPipeline.Config(root,
      WaveformCollator.Config(targetSamples = 50, waitLimitUs = 0L))

  // contiguous 100 Hz stream: 25 samples per message = 250 ms apart
  private def waveBatch(msgIds: Seq[Int]) = msgIds.map { i =>
    val ms = i * 250L
    val dtm = f"202406011200${ms / 1000}%02d.${ms % 1000}%03d+0000"
    hl7Wave(s"W$i", "B1", "52912", dtm, (1 to 25).map(_.toDouble))
  }.toDF("value")

  private def foldWave(cfg: graft.streaming.WaveformPipeline.Config,
                       msgIds: Seq[Int], batchId: Long): Unit =
    graft.streaming.WaveformPipeline.foldBatch(waveBatch(msgIds), batchId,
      "value", waveMeta, cfg)

  private def waveVisits =
    Seq(("V1", "B1", 0L, null.asInstanceOf[java.lang.Long]))
      .toDF("visitId", "location", "admissionUs", "dischargeUs")
      .select(col("visitId"), col("location"), col("admissionUs"),
        col("dischargeUs").cast("long"))

  test("MLLP deframe + HL7 ORU parse: samples, metadata enrich, errors") {
    val meta = md(("52912", 300, "uV", "ECG II", true),
      ("52913", 50, "mmHg", "ART", false))
    // two FS-separated frames in ONE socket line + stray whitespace
    val line = "" +
      hl7Wave("M1", "B1^B1^B1", "52912", "20240601120000.000+0000",
        Seq(1, 2, 3)) +
      "\r\n" +
      hl7Wave("M2", "B1^B1^B1", "52912", "20240601120000.010+0000",
        Seq(4, 5, 6)) + ""
    val bad = Seq(
      hl7Wave("E1", "B1", "99999", "20240601120000", Seq(1)), // unknown
      hl7Wave("E2", "B1", "52913", "20240601120000", Seq(1)), // unusable
      hl7Wave("E3", "B1", "52912", "20240601120000", Seq(1),
        pv1Loc = "OTHER"), // location mismatch
      hl7Wave("E4", "B1", "52912", "garbage", Seq(1)), // bad datetime
      hl7Wave("E5", "B1", "52912", "20240601120000", Seq(1))
        .replace("|NA|", "|ST|"), // non-numeric
      hl7Wave("E6", "B1", "52912", "20240601120000", Seq(1, 2))
        .replace("1^2", "1~2"), // multi-repeat
      hl7Wave("E7", "B1", "52912", "20240601120000", Seq(1),
        trig = "ADT^A01")) // not ORU
    val frames = WaveformListener.frameMllp(
      (Seq(line) ++ bad).toDF("value"), "value")
    assert(frames.count() == 9)

    val parsed = WaveformListener.parseWaveformHl7(frames, "hl7", meta,
      locationMapping = Map("B1^B1^B1" -> "T42E^B1^B1"))
    val ok = parsed.filter(col("error").isNull)
      .select("sourceMessageId", "locationId", "streamId", "samplingRate",
        "unit", "obsTimeUs", "values")
      .as[(String, String, String, Int, String, Long, Seq[Double])]
      .collect().sortBy(_._1)
    assert(ok.map(_._1).toSeq == Seq("M1_1_1", "M2_1_1"))
    // metadata supplied rate/unit; location mapped; ms fraction parsed
    assert(ok.forall(r => r._2 == "T42E^B1^B1" && r._4 == 300 &&
      r._5 == "uV"))
    assert(ok(1)._6 - ok(0)._6 == 10000L)
    assert(ok(0)._7 == Seq(1.0, 2.0, 3.0))

    val errs = parsed.filter(col("error").isNotNull)
      .select("sourceMessageId", "error").as[(String, String)].collect()
      .map { case (id, e) => (Option(id).map(_.take(2)).orNull, e) }.toMap
    assert(errs("E1") == "unknown_stream")
    assert(errs("E2") == "unusable_stream")
    assert(errs("E3") == "location_mismatch")
    assert(errs("E4") == "bad_datetime")
    assert(errs("E5").startsWith("non_numeric_type"))
    assert(errs("E6") == "multi_repeat")
    assert(errs("E7").startsWith("not_oru"))
  }

  test("waveform lifecycle: fold → type registration → append → maintain " +
      "leaves zero orphans and zero gaps") {
    import graft.streaming.{Maintenance, WaveformPipeline}
    val root = java.nio.file.Files
      .createTempDirectory("wv_pipe").toString
    val cfg = waveConfig(root)

    foldWave(cfg, Seq(0, 1), 1L)
    foldWave(cfg, Seq(2, 3), 2L)

    // stream type registered once, named from metadata
    val types = WaveformPipeline.readTypes(spark, root).get
    assert(types.select("interfaceId", "name").as[(String, String)]
      .collect().toSeq == Seq(("52912", "ECG II")))

    // chunks appended; all orphans before maintenance
    val before = WaveformPipeline.readChunks(spark, root).get
    assert(before.agg(sum(size(col("values")))).as[Long].head() == 100L)
    assert(Maintenance.orphanAudit(before, "visitId").count() ==
      before.count())

    WaveformPipeline.maintain(spark, root, waveVisits,
      retentionUs = 7L * 86400L * 1000000L, batchId = 3L)

    val after = WaveformPipeline.readChunks(spark, root).get
    assert(Maintenance.orphanAudit(after, "visitId").count() == 0)
    assert(Maintenance.waveformGapAudit(after, toleranceUs = 1000L)
      .count() == 0)
    assert(after.agg(sum(size(col("values")))).as[Long].head() == 100L)

    // a post-maintenance append is visible through the pointer
    foldWave(cfg, Seq(4), 4L)
    val withNew = WaveformPipeline.readChunks(spark, root).get
    assert(withNew.agg(sum(size(col("values")))).as[Long].head() == 125L)
  }

  test("waveform replay: a replayed fold and a repeated maintain read " +
      "back the types and chunks of a run without them") {
    import graft.streaming.WaveformPipeline
    val weekUs = 7L * 86400L * 1000000L
    def run(replays: Boolean) = {
      val root = java.nio.file.Files.createTempDirectory("wv_replay").toString
      val cfg = waveConfig(root)
      foldWave(cfg, Seq(0, 1), 1L)
      foldWave(cfg, Seq(2, 3), 2L)
      // at-least-once delivery: batch 2 arrives again under its id, and
      // its fold reads the type registry it replaces
      if (replays) foldWave(cfg, Seq(2, 3), 2L)
      // a retried maintenance tick reads the tier it replaces
      (1 to (if (replays) 2 else 1)).foreach(_ =>
        WaveformPipeline.maintain(spark, root, waveVisits, weekUs, 3L))
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select(to_json(struct(df.columns.sorted.map(col): _*)))
          .as[String].collect().toSeq.sorted
      (rows(WaveformPipeline.readTypes(spark, root).get),
        rows(WaveformPipeline.readChunks(spark, root).get))
    }
    val (types, chunks) = run(replays = false)
    assert(types.nonEmpty && chunks.nonEmpty)
    assert(run(replays = true) == ((types, chunks)))
  }

  test("TCP listener collates frames arriving over a real socket") {
    val server = new ServerSocket(0)
    val port = server.getLocalPort
    @volatile var err: Throwable = null
    val writer = new Thread(() => {
      try {
        val sock = server.accept()
        val out = new PrintWriter(sock.getOutputStream, true)
        // contiguous 300 Hz run: 3 messages x 40 samples
        val periodUs = 1000000.0 / 300
        for (i <- 0 until 3)
          out.println(frame("LOC9", "300hz",
            math.round(i * 40 * periodUs), 300, 40))
        out.flush()
        Thread.sleep(3000) // let the source drain before closing
        sock.close()
      } catch { case t: Throwable => err = t }
    })
    writer.start()

    val chunks = WaveformListener.listen(spark, "127.0.0.1", port,
      Config(targetSamples = 100, waitLimitUs = 0L),
      GroupStateTimeout.NoTimeout)
    val q = chunks.writeStream.format("memory").queryName("wv_out")
      .outputMode("append").start()
    try {
      var tries = 0
      while (spark.table("wv_out").count() == 0 && tries < 100) {
        q.processAllAvailable(); Thread.sleep(100); tries += 1
      }
      val rows = spark.table("wv_out")
        .select("locationId", "obsTimeUs", "values")
        .as[(String, Long, Seq[Double])].collect()
      assert(err == null, s"writer failed: $err")
      assert(rows.nonEmpty)
      // every sample arrives exactly once; targetSamples is a hard bound
      // (batch boundaries decide how many chunks carry them)
      assert(rows.map(_._3.size).sum == 120)
      assert(rows.map(_._3.size).max <= 100)
      assert(rows.forall(_._1 == "LOC9"))
    } finally {
      q.stop(); writer.join(5000); server.close()
    }
  }
}
