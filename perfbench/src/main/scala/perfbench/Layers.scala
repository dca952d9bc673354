package perfbench

import org.apache.spark.sql.{Column, DataFrame, Encoders, Observation, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.functions._
import graft.kernel.BitemporalKernel
import graft.sources.Hl7Wire
import graft.streaming.{DeadLetter, StarPipeline, WirePipeline}

/** Calls into the wire path, timed from outside. Untraced, [[fold]] is
  * one `WirePipeline.foldBatch`. Traced, it also diffs the state directory
  * around the fold, and a probed batch first runs the `sources` channels
  * and the `kernel` merge on their own, each forced to a `noop` sink.
  */
final class WireLayers(spark: SparkSession, tr: Tracer, val root: String) {
  import WireLayers._

  var failed = 0L
  var interpreted: Option[Int] = None
  private var observations = 0

  /** Fold one batch. */
  def fold(batch: Seq[Gen.Wire], batchId: Long, probe: Boolean): Unit =
    tr.span("batch", s"b$batchId") {
      val df = spark.createDataset(batch.map(_.raw))(Encoders.STRING).toDF("raw")
      if (tr.on && probe) {
        val adt = probeSources(df, s"b$batchId")
        try probeKernel(adt, batchId, s"b$batchId") finally adt.unpersist()
      }
      val before = if (tr.on) StateProbe.files(root) else Map.empty[String, Long]
      val manBefore =
        if (tr.on) StateProbe.manifest(root)
        else Map.empty[(String, String, String), String]
      try tr.span("streaming.fold", s"b$batchId") {
        WirePipeline.foldBatch(df, batchId, "raw", root, bitemporal = true)
      } catch { case e: Exception =>
        failed += 1
        System.err.println(s"[perfbench] fold $batchId failed: $e")
      }
      if (tr.on) tr.spanAttrs("state.diff", s"b$batchId") {
        val after = StateProbe.files(root)
        val manAfter = StateProbe.manifest(root)
        val fresh = after.keySet -- before.keySet
        Map("files_written" -> fresh.size.toDouble,
          "bytes_written" -> fresh.toSeq.map(after).sum.toDouble,
          "buckets_touched" ->
            manAfter.count { case (k, v) => !manBefore.get(k).contains(v) }.toDouble,
          "msgs" -> batch.size.toDouble)
      }(identity)
    }

  /** Run `df` into a `noop` sink, returning the observed aggregates. */
  private def observed(df: DataFrame, exprs: Column*): Map[String, Any] = {
    observations += 1
    val ob = Observation(s"perfbench_$observations")
    df.observe(ob, exprs.head, exprs.tail: _*).write.format("noop")
      .mode("overwrite").save()
    ob.get
  }

  /** `Hl7Wire.route` and the channels an ADT stream reaches — `adt` and
    * the router's `dead` — each written to a `noop` sink. Returns the
    * parsed adt channel, cached, for the kernel probe.
    */
  private def probeSources(df: DataFrame, key: String): DataFrame = {
    val b = df.repartition(spark.sparkContext.defaultParallelism).persist()
    try tr.spanAttrs("sources.parse", key) {
      val r = Hl7Wire.route(b, "raw")
      if (interpreted.isEmpty)
        interpreted = Some(interpretedExprs(r.adt) + interpretedExprs(r.dead))
      val adt = r.adt.persist()
      val o = observed(adt, count(lit(1)).as("n"),
        sum(when(col("mrn").isNull || col("validFromUs").isNull, 1)
          .otherwise(0)).as("bad"))
      val routerDead = observed(r.dead, count(lit(1)).as("n"))("n")
        .asInstanceOf[Long]
      val bad = Option(o("bad")).map(_.asInstanceOf[Long]).getOrElse(0L)
      (adt, Map("rows_out" -> o("n").asInstanceOf[Long].toDouble,
        "dead_routed" -> (bad + routerDead).toDouble,
        "msgs" -> df.count().toDouble))
    }(_._2)._1 finally b.unpersist()
  }

  /** `BitemporalKernel.applyBitemporal` on the batch's ADT interchange
    * rows (projected from the parsed channel as `WirePipeline` projects
    * them) against the touched buckets of the adt star, written to `noop`.
    */
  private def probeKernel(adt: DataFrame, batchId: Long, key: String): Unit = {
    val msgs = tr.span("kernel.input", key) {
      val clean = DeadLetter.route(adt,
        Seq("missing_mrn" -> col("mrn").isNull,
          "missing_valid_from" -> col("validFromUs").isNull)).clean
      val m = clean.select(Seq(col("mrn"), col("validFromUs"),
          col("sourceMessageId"),
          when(col("msgType").startsWith("Cancel"),
            col("eventOccurredDateTimeUs")).as("targetTimeUs"),
          col("dischargeDateTimeUs").as("dischargeTimeUs")) ++
          AdtPayload.filterNot(Set("targetTimeUs", "dischargeTimeUs")).map(col): _*)
        .withColumn("storedFromUs", lit(batchId))
        .persist()
      m.count()
      m
    }
    try tr.spanAttrs("kernel.apply", key) {
      val touched = msgs.select(pmod(xxhash64(col("mrn")), lit(8)))
        .distinct().collect().map(_.getLong(0).toString).toSet
      val man = StateProbe.manifest(root)
      def read(tbl: String): Option[DataFrame] = {
        val paths = man.collect {
          case (("adt", `tbl`, bk), rel) if touched.contains(bk) => s"$root/adt/$rel"
        }.toSeq.sorted
        if (paths.isEmpty) None else Some(spark.read.parquet(paths: _*))
      }
      val empty = BitemporalKernel.emptyBitemporal(msgs, Seq("mrn"),
        "validFromUs", "sourceMessageId", AdtPayload)
      val prev = BitemporalKernel.BitemporalState(
        read("bt_messages").getOrElse(empty.messages),
        read("bt_table").getOrElse(empty.table))
      val out = BitemporalKernel.applyBitemporal(prev, msgs, Seq("mrn"),
        "validFromUs", "sourceMessageId", "storedFromUs", AdtPayload)
      val rowsIn = msgs.count()
      observed(out.messages, count(lit(1)).as("n"))
      val versions = observed(out.table, count(lit(1)).as("n"))("n")
        .asInstanceOf[Long]
      Map("rows_in" -> rowsIn.toDouble, "versions_out" -> versions.toDouble)
    }(identity) finally msgs.unpersist()
  }
}

object WireLayers {
  /** The adt star's payload columns, as `WirePipeline` folds them. */
  val AdtPayload = Seq("msgType", "patientClass", "fullLocationString",
    "visitNumber", "previousMrn", "previousVisitNumber", "otherVisitNumber",
    "pendingDestination", "targetTimeUs", "dischargeTimeUs")

  /** Interpreted (CodegenFallback) expressions in a frame's physical plan. */
  def interpretedExprs(df: DataFrame): Int = {
    var n = 0
    df.queryExecution.sparkPlan.foreach(_.expressions.foreach(_.foreach {
      case _: CodegenFallback => n += 1
      case _ =>
    }))
    n
  }

  /** Per star under `root`: digests of the current belief (open stored
    * records, stored stamps dropped) and of the live rows — both
    * independent of how the messages were split into batches.
    */
  def stateHashes(spark: SparkSession, root: String): Map[String, String] =
    StateProbe.starDirs(root).flatMap { d =>
      val name = d.getFileName.toString
      StarPipeline.readBitemporal(spark, d.toString).toSeq.flatMap { t =>
        val belief = t.filter(col("stored_until_us").isNull)
          .drop("stored_from_us", "stored_until_us")
        Seq(s"$name.bt_table" -> StateProbe.hash(belief),
          s"$name.live" -> StateProbe.hash(
            belief.filter(col("valid_until_us").isNull)))
      }
    }.toMap

  /** Rows under `root/dead`, over every channel and batch. */
  def deadLettered(spark: SparkSession, root: String): Long = {
    val dead = java.nio.file.Paths.get(root, "dead")
    if (!java.nio.file.Files.isDirectory(dead)) 0L else {
      val s = java.nio.file.Files.list(dead)
      val channels = try s.toArray.map(_.toString).toSeq finally s.close()
      channels.map { ch =>
        val parts = StateProbe.files(ch).keys.filter(_.endsWith(".parquet"))
          .map(p => java.nio.file.Paths.get(p).getParent.toString).toSeq.distinct
        if (parts.isEmpty) 0L else spark.read.parquet(parts: _*).count()
      }.sum
    }
  }
}
