package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** O19: the Forms (Smart Data Element) vertical — the composed ingest +
  * read path for form instances, their answers, and the two metadata
  * dims, persisted through [[StarPipeline]]'s bucketed folds (the Spark
  * analog of the reference's FormProcessor + FormController pair,
  * core/.../dataprocessors/FormProcessor.java:52-83,
  * controllers/FormController.java:110-164).
  *
  * Message shapes (interchange contract — the reference's form source is
  * an external extract feeding the queue, so the import here is
  * DataFrame-shaped, emap-interchange/.../form/FormMsg.java:24-55,
  * FormAnswerMsg.java:18-59, FormMetadataMsg.java:18-33,
  * FormQuestionMetadataMsg.java:18-39):
  *
  *   forms:     formInstanceId, formId, mrn, visitNumber,
  *              firstFiledTimeUs, msgId, answers = array&lt;struct&lt;
  *                questionId, filedTimeUs, msgId, context, stringValue,
  *                numericValue, booleanValue, dateValue,
  *                datetimeValueUs&gt;&gt;
  *   formMeta:  formId, validFromUs, msgId, name, patientFriendlyName
  *   qMeta:     questionId, validFromUs, msgId, name, abbrevName,
  *              description
  *
  * Semantics, re-expressed as folds instead of row locks:
  *
  *   - the form INSTANCE is write-once identity (definition, visit,
  *     mrn) keyed by formInstanceId — kernel newest-wins makes replays
  *     no-ops (FormController.getOrCreateForm:167-171);
  *   - ANSWERS key by (formInstanceId, questionId) with
  *     validFrom = filedDatetime; F6 run-coalescing gives the
  *     reference's "don't bump the filing date if only the filing date
  *     changed" for free — an identical payload at a newer filed time
  *     coalesces into the existing version (FormController.java:155-161);
  *   - METADATA is newest-wins by validFrom; a form/question referenced
  *     by answers BEFORE its metadata arrives reads as a PLACEHOLDER
  *     row (null name, placeholder=true) until the metadata fold catches
  *     up — the reference persists the placeholder eagerly
  *     (FormController.java:111-117); deriving it at read time converges
  *     to the same state in every arrival order, which the permutation
  *     spec proves;
  *   - the whole vertical sits behind the F3 feature flag
  *     (Config.enabled; ref core application.properties forms toggle):
  *     disabled ⇒ foldBatch is a no-op, exactly like the reference's
  *     conditional processor registration.
  */
object FormsPipeline {

  final case class Config(stateRoot: String, nBuckets: Int = 8,
                          enabled: Boolean = true)

  private def star(cfg: Config, name: String, key: Seq[String], vf: String,
                   payload: Seq[String]) =
    StarPipeline.Config(s"${cfg.stateRoot}/$name", key, vf, "msgId",
      payload, nBuckets = cfg.nBuckets)

  private def formCfg(cfg: Config) = star(cfg, "form",
    Seq("formInstanceId"), "firstFiledTimeUs",
    Seq("formId", "mrn", "visitNumber"))
  private def ansCfg(cfg: Config) = star(cfg, "form_answer",
    Seq("formInstanceId", "questionId"), "filedTimeUs",
    Seq("context", "stringValue", "numericValue", "booleanValue",
      "dateValue", "datetimeValueUs"))
  private def defCfg(cfg: Config) = star(cfg, "form_definition",
    Seq("formId"), "validFromUs", Seq("name", "patientFriendlyName"))
  private def qCfg(cfg: Config) = star(cfg, "form_question",
    Seq("questionId"), "validFromUs",
    Seq("name", "abbrevName", "description"))

  /** Fold one micro-batch of form instances and/or metadata. Any of the
    * three frames may be empty/None; each present frame folds into its
    * own star under the shared state root.
    */
  def foldBatch(batchId: Long, cfg: Config,
                forms: Option[DataFrame] = None,
                formMeta: Option[DataFrame] = None,
                qMeta: Option[DataFrame] = None): Unit = {
    if (!cfg.enabled) return
    forms.foreach { f =>
      StarPipeline.foldBatch(
        f.select(col("formInstanceId"), col("firstFiledTimeUs"),
          col("msgId"), col("formId"), col("mrn"), col("visitNumber")),
        batchId, formCfg(cfg))
      StarPipeline.foldBatch(
        f.select(col("formInstanceId"), explode(col("answers")).as("a"))
          .select(col("formInstanceId"), col("a.questionId"),
            col("a.filedTimeUs"), col("a.msgId"), col("a.context"),
            col("a.stringValue"), col("a.numericValue"),
            col("a.booleanValue"), col("a.dateValue"),
            col("a.datetimeValueUs")),
        batchId, ansCfg(cfg))
    }
    formMeta.foreach(m => StarPipeline.foldBatch(
      m.select(col("formId"), col("validFromUs"), col("msgId"),
        col("name"), col("patientFriendlyName")),
      batchId, defCfg(cfg)))
    qMeta.foreach(m => StarPipeline.foldBatch(
      m.select(col("questionId"), col("validFromUs"), col("msgId"),
        col("name"), col("abbrevName"), col("description")),
      batchId, qCfg(cfg)))
  }

  /** Start the streaming vertical over a form-instance stream (metadata
    * frames arrive on their own feeds in the reference; fold them via
    * [[foldBatch]] from a second query or a scheduled import).
    */
  def start(forms: DataFrame, cfg: Config, checkpointDir: String,
            trigger: org.apache.spark.sql.streaming.Trigger =
              org.apache.spark.sql.streaming.Trigger
                .ProcessingTime("10 seconds"))
      : org.apache.spark.sql.streaming.StreamingQuery =
    FoldStream.start(forms, checkpointDir, trigger)((batch, batchId) =>
      foldBatch(batchId, cfg, forms = Some(batch)))

  /** The form-definition dim: folded metadata ∪ placeholders for every
    * formId the instance star references but metadata hasn't described
    * yet (FormController.java:111-117 getOrCreate placeholder path).
    */
  def definitions(spark: SparkSession, cfg: Config): Option[DataFrame] = {
    val meta = StarPipeline.readState(spark, defCfg(cfg), "live")
    val referenced = StarPipeline.readState(spark, formCfg(cfg), "live")
      .map(_.select(col("formId"),
        col("firstFiledTimeUs").as("validFromUs"))
        .groupBy(col("formId")).agg(min(col("validFromUs")).as("validFromUs")))
    (meta, referenced) match {
      case (None, None) => None
      case _ =>
        val m = meta.map(_.select(col("formId"), col("validFromUs"),
            col("name"), col("patientFriendlyName"),
            lit(false).as("placeholder")))
        val ph = referenced.map { r =>
          val known = meta.map(_.select(col("formId")).distinct())
          val missing = known match {
            case Some(k) => r.join(k, Seq("formId"), "left_anti")
            case None => r
          }
          missing.select(col("formId"), col("validFromUs"),
            lit(null).cast("string").as("name"),
            lit(null).cast("string").as("patientFriendlyName"),
            lit(true).as("placeholder"))
        }
        Some((m.toSeq ++ ph.toSeq).reduce(_ unionByName _))
    }
  }

  /** The form-question dim with answer-referenced placeholders. */
  def questions(spark: SparkSession, cfg: Config): Option[DataFrame] = {
    val meta = StarPipeline.readState(spark, qCfg(cfg), "live")
    val referenced = StarPipeline.readState(spark, ansCfg(cfg), "live")
      .map(_.groupBy(col("questionId"))
        .agg(min(col("filedTimeUs")).as("validFromUs")))
    (meta, referenced) match {
      case (None, None) => None
      case _ =>
        val m = meta.map(_.select(col("questionId"), col("validFromUs"),
          col("name"), col("abbrevName"), col("description"),
          lit(false).as("placeholder")))
        val ph = referenced.map { r =>
          val known = meta.map(_.select(col("questionId")).distinct())
          val missing = known match {
            case Some(k) => r.join(k, Seq("questionId"), "left_anti")
            case None => r
          }
          missing.select(col("questionId"), col("validFromUs"),
            lit(null).cast("string").as("name"),
            lit(null).cast("string").as("abbrevName"),
            lit(null).cast("string").as("description"),
            lit(true).as("placeholder"))
        }
        Some((m.toSeq ++ ph.toSeq).reduce(_ unionByName _))
    }
  }

  /** Live answers joined to their form instance and both dims — the
    * reference's form_answer → form → form_definition / form_question
    * FK walk, placeholders included. The TYPE dims broadcast (small by
    * construction: one row per form/question type); the instance table
    * grows with the corpus, so its join stays a hash join on the shared
    * formInstanceId key — answers and instances co-partition.
    */
  def answers(spark: SparkSession, cfg: Config): Option[DataFrame] =
    StarPipeline.readState(spark, ansCfg(cfg), "live").map { ans =>
      val form = StarPipeline.readState(spark, formCfg(cfg), "live")
        .getOrElse(ans.sparkSession.emptyDataFrame
          .withColumn("formInstanceId", lit(null).cast("string"))
          .withColumn("formId", lit(null).cast("string"))
          .withColumn("mrn", lit(null).cast("string"))
          .withColumn("visitNumber", lit(null).cast("string")))
        .select(col("formInstanceId"), col("formId"), col("mrn"),
          col("visitNumber"))
      val defs = definitions(spark, cfg).get
        .select(col("formId"), col("name").as("formName"),
          col("placeholder").as("formPlaceholder"))
      val qs = questions(spark, cfg).get
        .select(col("questionId"), col("name").as("questionName"),
          col("placeholder").as("questionPlaceholder"))
      ans.join(form, Seq("formInstanceId"), "left")
        .join(broadcast(defs), Seq("formId"), "left")
        .join(broadcast(qs), Seq("questionId"), "left")
    }
}
