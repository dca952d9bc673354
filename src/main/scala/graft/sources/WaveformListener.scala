package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.GroupStateTimeout
import graft.streaming.WaveformCollator
import graft.streaming.WaveformCollator.{Config, WaveChunk, WaveMsg}

/** S5: TCP waveform listener — the socket front door of the waveform
  * path (ref: waveform-reader's TCP ingest + emap-interchange
  * WaveformMessage shape; framing below is the project's own
  * line-delimited wire contract, not the proprietary device protocol).
  *
  * Wire format, one message per LF-terminated line:
  *
  *   locationId|streamId|obsTimeUs|samplingRate|unit|v1,v2,v3,...
  *
  * Spark's built-in `socket` source delivers the raw lines; framing is
  * a pure column projection (split + try_cast, codegen'd), so the
  * listener scales exactly like any other projection — and the same
  * parser serves batch replays of captured line files via
  * [[parseFrames]] on a static DataFrame.
  *
  * Malformed lines (wrong arity, unparseable numbers) become rows with
  * null required fields: [[malformed]] is the dead-letter filter,
  * [[wellFormed]] feeds the collator. Nothing throws on bad input —
  * a hostile byte on the socket must never kill the query.
  */
object WaveformListener {

  /** Parse framed lines (column `lineCol`) into WaveMsg-shaped rows. */
  def parseFrames(lines: DataFrame, lineCol: String): DataFrame =
    lines.select(split(col(lineCol), "\\|").as("f"))
      .selectExpr(
        "get(f, 0) AS locationId",
        "get(f, 1) AS streamId",
        "try_cast(get(f, 2) AS BIGINT) AS obsTimeUs",
        "try_cast(get(f, 3) AS INT) AS samplingRate",
        "get(f, 4) AS unit",
        "transform(split(get(f, 5), ','), v -> try_cast(v AS DOUBLE)) AS values")

  private def broken =
    col("locationId").isNull || col("streamId").isNull ||
      col("obsTimeUs").isNull || col("samplingRate").isNull ||
      col("values").isNull || exists(col("values"), v => v.isNull)

  def wellFormed(parsed: DataFrame): DataFrame = parsed.filter(!broken)

  /** Dead-letter channel: rows that failed framing. */
  def malformed(parsed: DataFrame): DataFrame = parsed.filter(broken)

  /** Open the TCP listener and return the collated chunk stream:
    * socket lines → frame parse → W4 gap-split collation.
    */
  def listen(spark: SparkSession, host: String, port: Int,
             cfg: Config = Config(),
             timeout: GroupStateTimeout =
               GroupStateTimeout.ProcessingTimeTimeout): Dataset[WaveChunk] = {
    import spark.implicits._
    val lines = spark.readStream.format("socket")
      .option("host", host).option("port", port).load()
    val msgs = wellFormed(parseFrames(lines, "value")).as[WaveMsg]
    WaveformCollator.collateStream(msgs, cfg, timeout)(spark)
  }

  // ==================================================================
  // The reference's actual wire contract: FS-terminated HL7 ORU^R01
  // ==================================================================

  /** MLLP-style framing: the socket text carries HL7 messages separated
    * by 0x1C (file separator), each wrapped in 0x0B (vertical tab) plus
    * stray CR/LF — the reference's listener deframes on the FS byte and
    * strips the rest as whitespace (waveform-reader/
    * Hl7ListenerConfig.java:62-66, Hl7ParseAndQueue.java:54-60). One
    * input row → one trimmed HL7 message per frame; all-whitespace
    * frames are dropped. Pure codegen'd projection — no state, scales
    * like any parse. (The reference's source-IP allowlist,
    * Hl7ListenerConfig.java:79-83, is a socket-accept concern — enforce
    * it at the network layer in front of the socket source.)
    */
  def frameMllp(lines: DataFrame, rawCol: String): DataFrame =
    lines.select(explode(split(col(rawCol), "\\x1C")).as("__frame"))
      .select(regexp_replace(col("__frame"), "(^\\s+)|(\\s+$)", "")
        .as("hl7"))
      .filter(col("hl7") =!= "")

  /** Parse framed HL7 ORU^R01 waveform messages into per-OBX sample
    * rows — the column-algebra form of the reference's ad-hoc parser
    * (Hl7ParseAndQueue.java:50-140): per OBR (location OBR-10, checked
    * against PV1-3), per OBX (stream id OBX-3, observation time OBX-14,
    * samples OBX-5 split on `^`; `~` repeats and non-NM/NA types are
    * errors). Sampling rate / unit / stream description come from the
    * broadcast `metadata` dim (streamId, samplingRate, unit,
    * streamDescription, usable), exactly as the reference's
    * SourceMetadata supplies what the wire omits; `locationMapping`
    * translates device locations to ADT locations (LocationMapping).
    *
    * Every failure is a ROW with a non-null `error` — nothing throws,
    * and a dead-lettered frame is never silently lost
    * (reference: log-and-skip, Hl7ParseAndQueue.java:163-170).
    */
  def parseWaveformHl7(msgs: DataFrame, rawCol: String,
                       metadata: DataFrame,
                       locationMapping: Map[String, String] = Map.empty)
      : DataFrame = {
    import graft.sources.Hl7Wire.{segment, fld, mshFld}
    import graft.functions.Hl7Timestamp.hl7TsUs
    val raw = col(rawCol)
    val msh = segment(raw, "MSH")
    val groups = LabFunnel.orderGroups(raw, "OBR")
    val rows = flatten(transform(groups, (g, gi) => {
      val obr = g.getField("obr")
      transform(g.getField("obxs"), (o, oi) => {
        val seg = o.getField("seg")
        struct(
          concat_ws("_", mshFld(msh, 10), (gi + 1).cast("string"),
            (oi + 1).cast("string")).as("sourceMessageId"),
          fld(obr, 10).as("locationId"),
          fld(seg, 3).as("streamId"),
          fld(seg, 2).as("valueType"),
          hl7TsUs(fld(seg, 14)).as("obsTimeUs"),
          fld(seg, 5).as("rawValues"))
      })
    }))
    val exploded = msgs
      .withColumn("__pv1loc", fld(segment(raw, "PV1"), 3))
      .withColumn("__type", mshFld(msh, 9))
      .select(col("*"), explode_outer(rows).as("__w"))
      .select(col("*"), col("__w.*")).drop("__w")
    val md = broadcast(metadata.select(col("streamId"),
      col("samplingRate"), col("unit"), col("streamDescription"),
      col("usable")))
    val locMap =
      if (locationMapping.isEmpty) col("locationId")
      else coalesce(element_at(
        map(locationMapping.toSeq.sortBy(_._1)
          .flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*),
        col("locationId")), col("locationId"))
    exploded.join(md, Seq("streamId"), "left")
      .withColumn("values",
        transform(split(col("rawValues"), "\\^"), v => v.cast("double")))
      .withColumn("error",
        when(col("__type") =!= "ORU^R01",
          concat(lit("not_oru:"), coalesce(col("__type"), lit(""))))
          .when(col("sourceMessageId").isNull, "empty_message")
          .when(!(col("locationId") <=> col("__pv1loc")),
            "location_mismatch")
          .when(!col("valueType").isin("NM", "NA"),
            concat(lit("non_numeric_type:"),
              coalesce(col("valueType"), lit(""))))
          .when(col("rawValues").contains("~"), "multi_repeat")
          .when(col("obsTimeUs").isNull, "bad_datetime")
          .when(col("samplingRate").isNull, "unknown_stream")
          .when(!col("usable"), "unusable_stream"))
      .withColumn("locationId", locMap)
      .drop("rawValues", "__pv1loc", "__type")
  }

  /** Error-free parsed rows → the collator's WaveMsg shape. */
  def toWaveMessages(parsed: DataFrame): DataFrame =
    parsed.filter(col("error").isNull).select(
      col("locationId"), col("streamId"), col("obsTimeUs"),
      col("samplingRate"), col("unit"), col("values"))
}
