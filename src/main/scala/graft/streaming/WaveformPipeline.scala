package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, StreamingQuery, Trigger}
import graft.operators.ObservationTypes
import graft.sources.WaveformListener

import java.nio.file.{Files, Paths}

/** The composed waveform vertical — the §3.2 lifecycle in ONE entry
  * point, the Spark analog of the reference's waveform-reader +
  * WaveformProcessor pair (waveform-reader/.../Hl7ParseAndQueue.java,
  * core/.../WaveformProcessor.java:58-90):
  *
  *   framed HL7 → parse (metadata-enriched) → W4 collation → stream
  *   type registration (J11) → star append (S8 append-only side) →
  *   scheduled maintenance (O15 orphan repair + S9 retention).
  *
  * State layout under `stateRoot`:
  *
  *   append/batch=N   per-micro-batch chunk appends (overwrite per
  *                    batch ⇒ idempotent on replay), visit FK attached
  *                    at write when the caller supplies intervals, else
  *                    null (orphan) for [[maintain]] to repair
  *   data/vM          consolidated tier written by [[maintain]]
  *   types/vN         visit_observation_type registry rows for the
  *                    streams seen so far (wf: identity, J11)
  *   dead/batch=N     parse rejects with a `reason` — never dropped
  *   _CURRENT         "<dataDir>\t<maxAppendBatchConsolidated>" —
  *                    readers resolve the consolidated tier plus only
  *                    the append batches newer than the marker
  *   _TYPES           the live types dir
  *
  * Both version dirs follow [[VersionedDir.fresh]]: a replayed fold or
  * a repeated maintain with the same batch id writes `types/vN.<n>` /
  * `data/vM.<n>` rather than overwrite the dir it reads, and both
  * pointers move by [[VersionedDir.commit]].
  *
  * Scale: the append path touches nothing but its own batch directory;
  * maintenance is the only full pass, and at scale its input is
  * date-partitionable (obsTime) so retention partition-prunes.
  */
object WaveformPipeline {

  final case class Config(stateRoot: String,
                          collator: WaveformCollator.Config =
                            WaveformCollator.Config(),
                          locationMapping: Map[String, String] = Map.empty)

  /** Fold one micro-batch of raw socket text (MLLP/FS-framed HL7) into
    * the waveform star: deframe → parse → dead-letter split → collate →
    * register new stream types → append chunks (visit-attached when
    * `intervals` is given). Callable on a static frame for file replays
    * (the reference's Hl7FromFile path).
    */
  def foldBatch(batch: DataFrame, batchId: Long, rawCol: String,
                metadata: DataFrame, cfg: Config,
                intervals: Option[DataFrame] = None): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    val parsed = WaveformListener.parseWaveformHl7(
        WaveformListener.frameMllp(batch, rawCol), "hl7", metadata,
        cfg.locationMapping)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      parsed.filter(col("error").isNotNull)
        .withColumnRenamed("error", "reason")
        .drop("values")
        .write.mode("overwrite")
        .parquet(s"${cfg.stateRoot}/dead/batch=$batchId")

      // J11: streams register their own observation types, write-once
      // on the wf: identity (VisitObservationController
      // .getOrCreateFromWaveform:132-139)
      val newTypes = ObservationTypes.fromWaveform(
        parsed.filter(col("error").isNull),
        "streamId", "streamDescription", "obsTimeUs")
      val liveTypes = VersionedDir.read(cfg.stateRoot, "_TYPES")
      val types = liveTypes
          .map(d => spark.read.parquet(s"${cfg.stateRoot}/$d")) match {
        case None => newTypes
        case Some(cur) => cur.unionByName(
          newTypes.join(cur.select(col("interfaceId")).distinct(),
            Seq("interfaceId"), "left_anti"))
      }
      val tDir = VersionedDir.fresh(s"types/v$batchId", liveTypes.contains)
      types.write.mode("overwrite").parquet(s"${cfg.stateRoot}/$tDir")

      val chunks = WaveformCollator.collateBatch(
        WaveformListener.toWaveMessages(parsed)
          .as[WaveformCollator.WaveMsg], cfg.collator)(spark).toDF()
      chunks.filter(col("isError"))
        .withColumnRenamed("errorMsg", "reason")
        .write.mode("overwrite")
        .parquet(s"${cfg.stateRoot}/dead_collation/batch=$batchId")

      // star append: attach the visit FK in-line when the caller has
      // current intervals (the reference attaches at write time); a
      // miss stays null for the scheduled repair
      val good = chunks.filter(!col("isError"))
        .drop("isError", "errorMsg")
        .withColumn("visitId", lit(null).cast("string"))
      val attached = intervals match {
        case None => good
        case Some(iv) => Maintenance.repairOrphans(good, iv)
      }
      attached.write.mode("overwrite")
        .parquet(s"${cfg.stateRoot}/append/batch=$batchId")
      // the pointer only moves on maintain(); a reader between appends
      // just unions the new batch dirs
      VersionedDir.commit(cfg.stateRoot, "_TYPES", tDir)
    } finally parsed.unpersist()
  }

  /** The registered stream-type dim as of the last fold. */
  def readTypes(spark: SparkSession, stateRoot: String): Option[DataFrame] =
    VersionedDir.read(stateRoot, "_TYPES")
      .map(dir => spark.read.parquet(s"$stateRoot/$dir"))

  /** Append batch ids newer than `mark` — ONE directory listing. */
  private def listAppendIds(stateRoot: String, mark: Long): List[Long] = {
    val appendRoot = Paths.get(stateRoot, "append")
    if (!Files.exists(appendRoot)) return Nil
    val ls = Files.list(appendRoot)
    try {
      import scala.jdk.CollectionConverters._
      ls.iterator().asScala
        .map(_.getFileName.toString)
        .filter(_.startsWith("batch="))
        .map(_.stripPrefix("batch=").toLong)
        .filter(_ > mark).toList.sorted
    } finally ls.close()
  }

  /** What a reader sees now: the live consolidated dir (if any), the
    * marker advanced over the append batches newer than `_CURRENT`'s,
    * and the paths of the consolidated tier plus those batches.
    */
  private def visible(root: String): (Option[String], Long, Seq[String]) = {
    val cur = VersionedDir.read(root, "_CURRENT").map(_.split("\t"))
      .collect { case Array(dir, mark) => (dir, mark.toLong) }
    val mark = cur.fold(-1L)(_._2)
    val ids = listAppendIds(root, mark)
    (cur.map(_._1), (mark :: ids).max,
      cur.map(c => s"$root/${c._1}").toSeq ++
        ids.map(id => s"$root/append/batch=$id"))
  }

  /** All chunks visible now: the consolidated tier (if any) plus append
    * batches newer than the consolidation marker.
    */
  def readChunks(spark: SparkSession, stateRoot: String): Option[DataFrame] = {
    val (_, _, dirs) = visible(stateRoot)
    if (dirs.isEmpty) None else Some(spark.read.parquet(dirs: _*))
  }

  /** W6 scheduled maintenance — the reference's WaveformProcessor tick
    * (WaveformProcessor.java:58-90): re-attach orphan chunks to visits
    * via the point-in-time join (O15), apply retention relative to the
    * newest observation (S9), consolidate into one tier, and swap the
    * pointer atomically. Append batches folded in are superseded by the
    * marker (their files stay until external cleanup, like the star
    * pipeline's old versions).
    */
  def maintain(spark: SparkSession, stateRoot: String, visits: DataFrame,
               retentionUs: Long, batchId: Long): Unit = {
    // Snapshot the append listing ONCE, read exactly those batches, and
    // advance the marker to the max id actually read — re-listing after
    // consolidation would let a batch appended mid-maintain be covered
    // by the new marker while its rows are absent from the consolidated
    // tier (permanently invisible to readChunks).
    val (cur, mark, dirs) = visible(stateRoot)
    if (dirs.isEmpty) return
    val chunks = spark.read.parquet(dirs: _*)
    val repaired = Maintenance.repairOrphans(chunks, visits)
    val kept = Maintenance.retain(repaired, col("obsTimeUs"), retentionUs)
    val dir = VersionedDir.fresh(s"data/v$batchId", cur.contains)
    kept.write.mode("overwrite").parquet(s"$stateRoot/$dir")
    VersionedDir.commit(stateRoot, "_CURRENT", s"$dir\t$mark")
  }

  /** Start the streaming lifecycle over a raw socket-text stream. */
  def start(lines: DataFrame, rawCol: String, metadata: DataFrame,
            cfg: Config, checkpointDir: String,
            trigger: Trigger = Trigger.ProcessingTime("10 seconds")): StreamingQuery =
    FoldStream.start(lines, checkpointDir, trigger)(
      foldBatch(_, _, rawCol, metadata, cfg))
}
